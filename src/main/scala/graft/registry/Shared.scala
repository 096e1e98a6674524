package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Similarity

/** Harness plumbing and oracle SQL fragments shared by the family
  * registries: stream-source staging, ts-encoding bridges, the admission
  * gate artifacts, exact-cents partials, and the DuckDB CTE bodies several
  * oracles inline. Moved verbatim out of SparkEntry in round 11.
  */
private[graft] object Shared {

  /** Exact-cents money partial — SUM of per-row round(x*100) longs, the
    * oracle-parity discipline (integer partials; any fractional output is
    * ONE final division of exact ints). Single definition for every
    * query that aggregates money.
    */
  def centsSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(round(c * 100).cast("long"))

  /** dim_date as a DuckDB CTE body (reference load_dim_date,
    * silver_load.sql:137-183). Kept as one string so every mart oracle
    * inlines the identical definition.
    */
  val dimDateSql =
    """bounds AS (
      |  SELECT least((SELECT CAST(min(o_orderdate) AS DATE) FROM orders),
      |               (SELECT CAST(min(l_shipdate) AS DATE) FROM lineitem)) AS lo,
      |         greatest((SELECT CAST(max(o_orderdate) AS DATE) FROM orders),
      |                  (SELECT CAST(max(l_shipdate) AS DATE) FROM lineitem)) AS hi
      |), days AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS cal_date FROM bounds
      |), dim_date AS (
      |  SELECT CAST(year(cal_date)*10000 + month(cal_date)*100 + day(cal_date) AS INTEGER) AS date_id,
      |         cal_date,
      |         CAST(year(cal_date) AS INTEGER) AS year,
      |         CAST(month(cal_date) AS INTEGER) AS month,
      |         monthname(cal_date) AS month_name,
      |         CAST(day(cal_date) AS INTEGER) AS day,
      |         CAST(quarter(cal_date) AS INTEGER) AS quarter,
      |         CAST(dayofweek(cal_date) AS INTEGER) AS day_of_week,
      |         dayname(cal_date) AS day_name,
      |         dayofweek(cal_date) IN (0,6) AS is_weekend
      |  FROM days
      |)""".stripMargin
  // ---- live-streaming query plumbing -----------------------------------

  /** Stage `table` of the sf dir `d` as a file-stream SOURCE directory
    * inside the query's scratch dir `tmp` and return its path: the
    * file-stream source monitors a DIRECTORY; the testdata table is a
    * single parquet file, so stage it as a symlink (no data copy) — the
    * production shape is streaming an arrival directory anyway.
    */
  def streamSource(tmp: String, d: String, table: String): String = {
    val srcPath = java.nio.file.Paths.get(tmp, "src")
    java.nio.file.Files.createDirectories(srcPath)
    // absolute target: a relative sf dir would otherwise resolve against
    // the temp src/ directory and dangle.
    java.nio.file.Files.createSymbolicLink(
      srcPath.resolve(table),
      java.nio.file.Paths.get(d, table).toAbsolutePath)
    srcPath.toString
  }

  /** Append `slice` to the file-stream source `src` as batch `i`, and
    * pin its new file's mtime to 1700000000000 + i·60 s: the source
    * lists files by mtime, so the batches stream in staging order.
    */
  def stagePinnedBatch(src: String, i: Int, slice: DataFrame): Unit = {
    def files = Option(new java.io.File(src).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
    val before = files.map(_.getName).toSet
    slice.coalesce(1).write.mode("append").parquet(src)
    files.filterNot(f => before(f.getName)).foreach { f =>
      require(f.setLastModified(1700000000000L + i * 60000L),
        s"could not pin mtime for $f — staged batch order would be undefined")
    }
  }

  /** Normalize a stream's ts to TimestampType INSIDE the stream exactly
    * as Tables.events does for batch — same adaptive branching, because
    * a staged source directory carries whatever physical encoding the
    * testdata (or a restart harness's own re-write) shipped: raw-nanos
    * LONG, TIMESTAMP_NTZ micros, or TimestampType (round-9 postmortem —
    * the encoding is environment-controlled and has changed under us).
    */
  val rebuildStreamTs: DataFrame => DataFrame = Tables.normalizeTs

  /** ts of a raw events frame as an epoch-NANOS expression, whatever the
    * physical encoding — the restart harnesses split feeds and place
    * synthetic rows with nanos arithmetic.
    */
  def tsNanosCol(df: DataFrame): Column = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType           => col("ts")
      case TimestampNTZType   =>
        unix_micros(col("ts").cast(TimestampType)) * lit(1000L)
      case TimestampType      => unix_micros(col("ts")) * lit(1000L)
      case other => throw new IllegalStateException(
        s"events ts has unsupported physical type $other")
    }
  }

  /** Raw events feed with ts coerced to epoch-nanos LONG regardless of
    * the file's encoding: harnesses that restage their own source dir
    * from this frame keep their nanos split arithmetic unchanged, and
    * the staged LongType ts takes [[rebuildStreamTs]]'s nanos branch —
    * byte-identical behavior to the original nanos testdata.
    */
  def eventsFeedNanos(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.loadEvents(s, d)
    raw.withColumn("ts", tsNanosCol(raw))
  }

  /** Inverse of [[tsNanosCol]]: render an epoch-nanos Column in the
    * staged source's ts encoding, so rows APPENDED to a symlinked
    * original file type-match the declared stream schema.
    */
  def nanosToFeedTs(dt: org.apache.spark.sql.types.DataType,
                            nanos: Column): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType         => nanos
      // `/` on integral Columns is DOUBLE division; at epoch-nanos
      // magnitude (~2^60) the double ULP is 256 ns, so the quotient can
      // round below the exact integer and the long cast would truncate
      // the feed ts 1 µs low. Decimal division keeps it exact.
      case TimestampNTZType =>
        timestamp_micros((nanos.cast(DecimalType(38, 0)) / 1000).cast(LongType))
          .cast(TimestampNTZType)
      case TimestampType    =>
        timestamp_micros((nanos.cast(DecimalType(38, 0)) / 1000).cast(LongType))
      case other => throw new IllegalStateException(
        s"events ts has unsupported physical type $other")
    }
  }

  /** Fixed-width 20-bucket histogram with data-derived bounds (A3 style):
    * one bounds pass + one aggregation; the max value is clamped into the
    * last bucket. hi==lo guard: a constant column has width 0 and the
    * divide yields NaN — degenerate input collapses into bucket 0 instead
    * (the oracle CASE mirrors it). Extracted so the guard is unit-testable
    * on injected input (the query reads the events table).
    */
  private[graft] def histogram20(ev: DataFrame): DataFrame = {
    val b = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    ev.crossJoin(broadcast(b))
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(ext.Quality.binExpr(col("value"),
            (col("hi") - col("lo")) / 20, col("lo")), lit(19L)))
          .cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        centsSum(col("value")).as("value_cents"))
      .orderBy("bucket")
  }

  /** Read a streaming sink back deterministically: only windows strictly
    * below the watermark horizon on BOTH sides, so the edge window's
    * emit-or-hold never decides the comparison.
    */
  def sinkBelowHorizon(s: SparkSession, d: String, outDir: String,
                               categoryCol: String): DataFrame = {
    val horizonMs = 3600000L
    val mx = Tables.events(s, d)
      .agg(max(unix_millis(col("ts"))).as("mx_ms"))
    s.read.parquet(outDir)
      .withColumn("window_start_ms", unix_millis(col("window_start")))
      .crossJoin(mx) // 1-row broadcast
      .filter(col("window_start_ms") + horizonMs < col("mx_ms") - horizonMs)
      .select(col("window_start_ms"), col(categoryCol),
        col("n_events"), col("value_cents"))
      .orderBy("window_start_ms", categoryCol)
  }

  // ---- admission gate artifacts ----------------------------------------

  /** The bench-Bloom shingle gate: the bench sources' (src0/src1)
    * 5-shingles in a 2^18-bit 4-hash Bloom filter, collected once and
    * probed as a column projection.
    */
  def benchBloomGate(s: SparkSession, d: String): Column => Column = {
    val bench = Tables.documents(s, d).filter(col("source").isin("src0", "src1"))
    val bloom = ext.Sketches.bloomBuild(
      ext.Dedup.shingles(bench, w = 5).select(col("sh")), "sh",
      numBits = 1 << 18, numHashes = 4)
    (sh: Column) =>
      ext.Sketches.bloomGateColumn(bloom, sh, numBits = 1 << 18, numHashes = 4)
  }

  /** The Bloom shingle gate + banded semantic config, built ONCE from
    * the FULL corpus — the frozen gate artifacts every admission
    * variant (frozen-frame, persisted-state, compacted-state,
    * per-release, streamed) probes. Split out of the report builder so
    * the multi-report queries (lifecycle, release matrix) share one
    * artifact build across report runs.
    */
  def admissionGateCfg(s: SparkSession, d: String)
      : (Column => Column, Option[ext.Admission.SemanticCfg]) = {
    val emb = Tables.embeddings(s, d)
    val sig = ext.Corpus.benchSignatureTable(Tables.documents(s, d), emb,
      Seq("src0", "src1"))
    (benchBloomGate(s, d),
      Some(ext.Admission.SemanticCfg(emb, sig, threshold = 0.42)))
  }

  /** The registered near-dup gate state (round 14): the
    * already-admitted cohort's band table (doc_id % 7 = 3 over the
    * FULL corpus plays the admitted corpus) PERSISTED at `dir` through
    * writeBandState's partitioned production layout and read back —
    * band state is O(corpus docs) rows at scale, so the registered
    * path takes distributed storage, not an executor block-memory
    * freeze (gate parity over this layout is spec-pinned in
    * AdmissionSpec). Returns the read-back frame.
    */
  def admissionBandState(s: SparkSession, d: String, dir: String): DataFrame = {
    ext.Dedup.writeBandState(
      ext.Dedup.bandTable(Tables.documents(s, d).filter(col("doc_id") % 7 === 3),
        w = 5, numHashes = 8, bandWidth = 2),
      dir, "overwrite")
    s.read.parquet(dir)
  }

  // ---- generated oracle fragments (identical constants as the Spark
  //      plans: hash seeds, band layout, hyperplane matrix) --------------

  /** toks+tri CTE bodies shared by the shingle-based dedup oracles.
    * `tri` is MATERIALIZED (round 16): DuckDB inlines plain CTEs, so
    * every consumer re-ran the shingle explode — the pair oracles
    * reference it 3-4× and corpus_pipeline_e2e's chain multiplies
    * that again (60.7 s → 0.6 s measured at sf0.01 with tri/mh/cl
    * materialized). Pure evaluation hint; identical rows.
    */
  val triSql =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5
      |), tri AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(generate_series(1, len(l)-4),
      |                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4])) AS sh
      |  FROM toks
      |)""".stripMargin

  /** Prefix-filtered exact-Jaccard pairs, no ORDER BY — shared by the
    * pair oracle and the connected-components oracle built on it.
    */
  /** Exact brute-force cosine top-10 for queries vec_id < 5 — the
    * oracle of sim_topk_bruteforce, and of stream_index_maintain (a
    * complete index searched at nprobe = numCells is exhaustive).
    */
  lazy val bruteTop10OracleSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
       |s AS (
       |  SELECT qid, cid, ${cosineSql("qe", "ce")} AS sim
       |  FROM q, c WHERE qid != cid
       |), r AS (
       |  SELECT qid, cid,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
       |  FROM s
       |)
       |SELECT qid, CAST(rnk AS INTEGER) AS rnk, cid FROM r WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin

  lazy val ngramPairsCoreSql: String = ngramPairsSqlAt(0.8)

  /** The prefix-filtered exact-Jaccard pair chain at an arbitrary
    * threshold — the recall-evaluation oracles need the 0.5 form the
    * banded family verifies at.
    */
  def ngramPairsSqlAt(t: Double): String =
    s"""WITH $triSql,
       |freq AS (SELECT sh, count(*) AS f FROM tri GROUP BY 1),
       |sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY 1),
       |ranked AS (
       |  SELECT t.doc_id, t.sh, s.n,
       |         row_number() OVER (PARTITION BY t.doc_id
       |                            ORDER BY fr.f ASC, t.sh ASC) AS rn
       |  FROM tri t JOIN freq fr ON fr.sh = t.sh JOIN sizes s ON s.doc_id = t.doc_id
       |), prefix AS (
       |  SELECT doc_id, sh FROM ranked WHERE rn <= n - floor($t * n) + 1
       |), cands AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM prefix a JOIN prefix b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |), com AS (
       |  SELECT c.d1, c.d2, count(*) AS common
       |  FROM cands c
       |  JOIN tri a ON a.doc_id = c.d1
       |  JOIN tri b ON b.doc_id = c.d2 AND b.sh = a.sh
       |  GROUP BY 1, 2
       |)
       |SELECT d1, d2,
       |  CAST(common AS DOUBLE)/CAST(s1.n + s2.n - common AS DOUBLE) AS jaccard
       |FROM com JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
       |WHERE CAST(common AS DOUBLE)/CAST(s1.n + s2.n - common AS DOUBLE) >= $t""".stripMargin

  /** mh+bands CTE bodies (8 hashes, 4 bands of 2) shared by the banded
    * minhash oracles — identical constants to `Dedup.bandsOf`.
    */
  lazy val bandCteSql: String = bandCteSqlFor(2)

  /** The mh+bands CTE bodies at an arbitrary band width over the fixed
    * 8-hash family (bandWidth must divide 8) — the banding-sweep oracle
    * needs the 1- and 4-wide forms beside the production 2-wide one.
    */
  def bandCteSqlFor(bw: Int): String = {
    require(8 % bw == 0, s"bandCteSqlFor: $bw does not divide 8")
    val mhCols = (0 until 8).map(s =>
      s"    min(CAST('0x' || substr(md5('0|' || sh) || md5('1|' || sh), ${8 * s + 1}, 8) AS BIGINT)) AS mh$s")
      .mkString(",\n")
    val bandSelects = (0 until 8 / bw).map { b =>
      val k = (b * bw until (b + 1) * bw)
        .map(i => s"CAST(mh$i AS VARCHAR)").mkString(" || ',' || ")
      s"  SELECT doc_id, $b AS band, $k AS bkey FROM mh"
    }.mkString("\n  UNION ALL\n")
    s"""mh AS MATERIALIZED (
       |  SELECT doc_id,
       |$mhCols
       |  FROM tri GROUP BY doc_id
       |), bands AS (
       |$bandSelects
       |)""".stripMargin
  }

  /** Streaming near-dup admission unrolled: three rounds (doc_id mod 3,
    * the pinned micro-batch order), band state threaded through — round
    * r admits a doc iff none of its band buckets collides with the
    * admitted-so-far state or a smaller-id sibling of its own round;
    * docs under 5 tokens have no shingles → no bands → always admitted.
    * Shared verbatim by stream_near_dedup and its restart variant (the
    * restart must be invisible).
    */
  lazy val nearDedupAdmissionSql: String =
    s"""WITH $triSql,
       |$bandCteSql,
       |g0 AS (SELECT b.doc_id, b.band, b.bkey FROM bands b WHERE b.doc_id % 3 = 0),
       |g1 AS (SELECT b.doc_id, b.band, b.bkey FROM bands b WHERE b.doc_id % 3 = 1),
       |g2 AS (SELECT b.doc_id, b.band, b.bkey FROM bands b WHERE b.doc_id % 3 = 2),
       |rej0 AS (
       |  SELECT DISTINCT y.doc_id FROM g0 x
       |  JOIN g0 y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |adm0 AS (SELECT DISTINCT doc_id FROM g0
       |         WHERE doc_id NOT IN (SELECT doc_id FROM rej0)),
       |st0 AS (SELECT DISTINCT band, bkey FROM g0
       |        WHERE doc_id IN (SELECT doc_id FROM adm0)),
       |rej1 AS (
       |  SELECT DISTINCT b.doc_id FROM g1 b
       |  JOIN st0 k ON k.band = b.band AND k.bkey = b.bkey
       |  UNION
       |  SELECT DISTINCT y.doc_id FROM g1 x
       |  JOIN g1 y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |adm1 AS (SELECT DISTINCT doc_id FROM g1
       |         WHERE doc_id NOT IN (SELECT doc_id FROM rej1)),
       |st1 AS (SELECT band, bkey FROM st0
       |        UNION
       |        SELECT DISTINCT band, bkey FROM g1
       |        WHERE doc_id IN (SELECT doc_id FROM adm1)),
       |rej2 AS (
       |  SELECT DISTINCT b.doc_id FROM g2 b
       |  JOIN st1 k ON k.band = b.band AND k.bkey = b.bkey
       |  UNION
       |  SELECT DISTINCT y.doc_id FROM g2 x
       |  JOIN g2 y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |adm2 AS (SELECT DISTINCT doc_id FROM g2
       |         WHERE doc_id NOT IN (SELECT doc_id FROM rej2)),
       |adm AS (SELECT doc_id FROM adm0
       |        UNION SELECT doc_id FROM adm1
       |        UNION SELECT doc_id FROM adm2)
       |SELECT d.doc_id, d.source, d.n_chars FROM documents d
       |WHERE d.doc_id IN (SELECT doc_id FROM adm)
       |   OR d.doc_id NOT IN (SELECT doc_id FROM bands)
       |ORDER BY doc_id""".stripMargin

  /** Banded-MinHash verified pairs, no ORDER BY — shared by the pair
    * oracle and the connected-components oracle built on it.
    */
  lazy val minhashPairsCoreSql: String = minhashPairsSql(None)

  /** Banded-MinHash verified pairs with an optional bucket-size cap —
    * `cap` mirrors `Dedup.minhashLsh(maxBucketSize)`: buckets with more
    * members are excluded from candidate generation.
    */
  def minhashPairsSql(cap: Option[Int]): String =
    minhashPairsSqlBanded(cap, bw = 2)

  /** [[minhashPairsSql]] at an arbitrary band width — the sweep
    * oracle's per-config verified-pair sets.
    */
  def minhashPairsSqlBanded(cap: Option[Int], bw: Int): String = {
    val capJoin = cap.map(c =>
      s"""
         |  JOIN (SELECT band, bkey FROM bands GROUP BY 1, 2
         |        HAVING count(*) <= $c) ok
         |    ON ok.band = x.band AND ok.bkey = x.bkey""".stripMargin).getOrElse("")
    s"""WITH $triSql,
       |${bandCteSqlFor(bw)}, cands AS (
       |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id$capJoin
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n FROM tri GROUP BY 1
       |), com AS (
       |  SELECT c.d1, c.d2, count(*) AS common
       |  FROM cands c
       |  JOIN tri a ON a.doc_id = c.d1
       |  JOIN tri b ON b.doc_id = c.d2 AND b.sh = a.sh
       |  GROUP BY 1, 2
       |)
       |SELECT d1, d2,
       |  CAST(common AS DOUBLE)/CAST(s1.n + s2.n - common AS DOUBLE) AS jaccard
       |FROM com JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
       |WHERE CAST(common AS DOUBLE)/CAST(s1.n + s2.n - common AS DOUBLE) >= 0.5""".stripMargin
  }

  val minhashOracle: String = s"$minhashPairsCoreSql\nORDER BY d1, d2"

  val simhashOracle: String = {
    val bitSums = (0 until 16).map(b =>
      s"    sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n")
    val assemble = (0 until 16).map(b =>
      s"CASE WHEN s$b >= 0 THEN ${1 << b} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
       |), th AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h FROM tok
       |), bits AS (
       |  SELECT doc_id,
       |$bitSums
       |  FROM th GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($assemble AS INTEGER) AS simhash
       |FROM bits ORDER BY doc_id""".stripMargin
  }

  /** Double-precision cosine in the same index-ordered shape as
    * [[Similarity.cosine]].
    */
  /** Exact decontamination oracle shared by corpus_decontaminate and its
    * Bloom-prefiltered twin (the gate is provably invisible).
    */
  val corpusDecontaminateOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS l FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5
      |), tri AS (
      |  SELECT DISTINCT doc_id, source,
      |         unnest(list_transform(generate_series(1, len(l)-4),
      |                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4])) AS sh
      |  FROM toks
      |), freq AS (
      |  SELECT sh, count(*) AS f FROM tri
      |  WHERE source IS NOT NULL GROUP BY 1),
      |keep AS (SELECT t.* FROM tri t JOIN freq f ON f.sh = t.sh AND f.f <= 8),
      |bench AS (SELECT doc_id, sh FROM keep WHERE source IN ('src0','src1')),
      |train AS (SELECT doc_id, sh FROM keep WHERE source NOT IN ('src0','src1')),
      |bsize AS (SELECT doc_id, count(*) AS n FROM bench GROUP BY 1),
      |shared AS (
      |  SELECT b.doc_id AS bench_doc, t.doc_id AS train_doc,
      |         count(*) AS n_shared
      |  FROM bench b JOIN train t ON b.sh = t.sh GROUP BY 1, 2),
      |flagged AS (
      |  SELECT DISTINCT train_doc FROM shared
      |  JOIN bsize ON bsize.doc_id = bench_doc
      |  WHERE CAST(n_shared AS DOUBLE)/CAST(n AS DOUBLE) >= 0.3)
      |SELECT d.doc_id, d.source, d.n_chars FROM documents d
      |WHERE d.source NOT IN ('src0','src1')
      |  AND d.doc_id NOT IN (SELECT train_doc FROM flagged)
      |ORDER BY doc_id""".stripMargin

  /** Finalized-window batch equivalent shared by stream_pipeline (fresh
    * checkpoint) and stream_pipeline_restart (two passes, one
    * checkpoint): the restart must be invisible in the result.
    */
  val streamPipelineOracle: String =
    """WITH m AS (SELECT epoch_ms(max(ts)) AS mx_ms FROM events)
      |SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events, m
      |WHERE epoch_ms(date_trunc('hour', ts)) + 3600000 < mx_ms - 3600000
      |GROUP BY 1, 2
      |ORDER BY window_start_ms, event_type""".stripMargin

  /** The streaming corpus-admission chain unrolled in batch over `rel`
    * (the body after WITH — callers prepend their own leading CTEs):
    * quality predicate, per-doc might-contain fraction against the
    * bench shingle Bloom (salted-md5 positions, 2^18 bits, 4 hashes),
    * one row per surviving doc_id. Shared by stream_corpus_clean and
    * its restart form so the gate semantics cannot drift between them.
    */
  def corpusCleanChainSql(rel: String): String =
    s"""q AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, len(l) AS n_tok, len(list_distinct(l)) AS n_dis,
       |           len(list_filter(l, x -> x IN ('the','a','of','and','in'))) AS n_stop
       |    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM $rel))
       |  WHERE n_tok >= 5 AND n_stop >= 1 AND 4*n_dis >= n_tok
       |), train AS (
       |  SELECT d.* FROM $rel d JOIN q USING (doc_id)
       |  WHERE d.source NOT IN ('src0','src1')
       |), bt AS (
       |  SELECT string_split(text, ' ') AS l FROM $rel
       |  WHERE source IN ('src0','src1') AND len(string_split(text, ' ')) >= 5
       |), bsh AS (
       |  SELECT DISTINCT
       |    l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4] AS sh
       |  FROM bt, unnest(generate_series(1, len(l)-4)) AS u(i)
       |), bits AS (
       |  SELECT DISTINCT
       |    CAST('0x' || substr(md5('b' || j || '|' || sh), 1, 8) AS BIGINT) % 262144 AS pos
       |  FROM bsh, unnest(generate_series(0, 3)) AS js(j)
       |), tsh AS (
       |  SELECT DISTINCT doc_id,
       |    l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4] AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM train),
       |       unnest(generate_series(1, len(l)-4)) AS u(i)
       |), probe AS (
       |  SELECT doc_id, sh,
       |    (CAST('0x' || substr(md5('b0|' || sh), 1, 8) AS BIGINT) % 262144
       |       IN (SELECT pos FROM bits)
       |     AND CAST('0x' || substr(md5('b1|' || sh), 1, 8) AS BIGINT) % 262144
       |       IN (SELECT pos FROM bits)
       |     AND CAST('0x' || substr(md5('b2|' || sh), 1, 8) AS BIGINT) % 262144
       |       IN (SELECT pos FROM bits)
       |     AND CAST('0x' || substr(md5('b3|' || sh), 1, 8) AS BIGINT) % 262144
       |       IN (SELECT pos FROM bits)) AS might
       |  FROM tsh
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_sh,
       |         sum(CASE WHEN might THEN 1 ELSE 0 END) AS n_hit
       |  FROM probe GROUP BY 1
       |)
       |SELECT t.doc_id, t.source, t.n_chars,
       |  CAST(a.n_sh AS INTEGER) AS n_sh, CAST(a.n_hit AS INTEGER) AS n_hit
       |FROM train t JOIN agg a USING (doc_id)
       |WHERE CAST(a.n_hit AS DOUBLE) < 0.3 * CAST(a.n_sh AS DOUBLE)
       |ORDER BY t.doc_id""".stripMargin

  /** The unified admission ensemble's seven gate decisions as one WITH
    * chain ending in the per-doc verdict CTE `averd` — shared by the
    * long-table report oracle ([[admissionReportOracle]]) and the
    * per-gate calibration rollup ([[admissionOverlapOracle]]).
    */
  lazy val admissionVerdictCtes: String = admissionVerdictCtesWith()

  /** [[admissionVerdictCtes]] with the near-dup STATE definition (and
    * optionally extra CTEs it depends on) injectable — the compacted-
    * state oracle swaps in the keeper-only band state; everything else
    * (gates, artifacts, verdict emission) is shared verbatim so the
    * variants cannot drift from the canonical chain.
    *
    * `averd` is `AS MATERIALIZED` (round 16): DuckDB inlines plain
    * CTEs, so every oracle leg that reads averd re-ran the ENTIRE
    * verdict chain — bloom probe, semantic sweep, LM and NB trains —
    * once per leg; the per-release matrix oracle (72 legs) took 261 s
    * at sf0.01 and 2.8 s materialized, measured on this box. Pure
    * evaluation hint, bit-identical output; the driver gate's compare
    * phase is the consumer that must not time out.
    */
  def admissionVerdictCtesWith(
      andState: String =
        "SELECT DISTINCT doc_id, band, bkey FROM abands WHERE doc_id % 7 = 3",
      extraCtes: String = "",
      recursive: Boolean = false): String = {
      // all six gate decisions unrolled into one long table: quality
      // heuristics (the corpus_clean q-CTE's exact conditions), bench
      // Bloom probe (identical salted-md5 positions, 2^18 bits, 4
      // hashes — over ALL docs, no quality prefilter: the report
      // audits every gate independently), banded semantic sweep
      // (identical ±1 planes; x unrestricted so bench docs flag
      // themselves), the text_lm_score chain at the -3.40 threshold,
      // and the text_nb_classify chain gated on label = 'en'.
      val (bitCols, bandSelects) =
        planeBandSql(16, "doc_id, source, embedding", "asig")
      // near-dup gate (round 14): MinHash band table over the same
      // 5-shingles (identical 8-hash family / 2-wide bands as
      // bandCteSqlFor), probed against the admitted-cohort state
      // (doc_id % 7 = 3) with self-rows excluded
      val admissionMhCols = (0 until 8).map(s =>
        s"    min(CAST('0x' || substr(md5('0|' || sh) || md5('1|' || sh), ${8 * s + 1}, 8) AS BIGINT)) AS mh$s")
        .mkString(",\n")
      val admissionBandSelects = (0 until 4).map { b =>
        val k = (b * 2 until (b + 1) * 2)
          .map(i => s"CAST(mh$i AS VARCHAR)").mkString(" || ',' || ")
        s"  SELECT doc_id, $b AS band, $k AS bkey FROM amh"
      }.mkString("\n  UNION ALL\n")
      s"""WITH ${if (recursive) "RECURSIVE " else ""}aq AS (
         |  SELECT doc_id, source, len(l) AS n_tok, len(list_distinct(l)) AS n_dis,
         |         len(list_filter(l, x -> x IN ('the','a','of','and','in'))) AS n_stop
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents)
         |), abt AS (
         |  SELECT string_split(text, ' ') AS l FROM documents
         |  WHERE source IN ('src0','src1') AND len(string_split(text, ' ')) >= 5
         |), absh AS (
         |  SELECT DISTINCT
         |    l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4] AS sh
         |  FROM abt, unnest(generate_series(1, len(l)-4)) AS u(i)
         |), abits AS (
         |  SELECT DISTINCT
         |    CAST('0x' || substr(md5('b' || j || '|' || sh), 1, 8) AS BIGINT) % 262144 AS pos
         |  FROM absh, unnest(generate_series(0, 3)) AS js(j)
         |), atsh AS (
         |  SELECT DISTINCT doc_id,
         |    l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4] AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |       unnest(generate_series(1, len(l)-4)) AS u(i)
         |), aprobe AS (
         |  SELECT doc_id, sh,
         |    (CAST('0x' || substr(md5('b0|' || sh), 1, 8) AS BIGINT) % 262144
         |       IN (SELECT pos FROM abits)
         |     AND CAST('0x' || substr(md5('b1|' || sh), 1, 8) AS BIGINT) % 262144
         |       IN (SELECT pos FROM abits)
         |     AND CAST('0x' || substr(md5('b2|' || sh), 1, 8) AS BIGINT) % 262144
         |       IN (SELECT pos FROM abits)
         |     AND CAST('0x' || substr(md5('b3|' || sh), 1, 8) AS BIGINT) % 262144
         |       IN (SELECT pos FROM abits)) AS might
         |  FROM atsh
         |), aagg AS (
         |  SELECT doc_id, count(*) AS n_sh,
         |         sum(CASE WHEN might THEN 1 ELSE 0 END) AS n_hit
         |  FROM aprobe GROUP BY 1
         |), amh AS (
         |  SELECT doc_id,
         |$admissionMhCols
         |  FROM atsh GROUP BY doc_id
         |), abands AS (
         |$admissionBandSelects
         |)$extraCtes, andstate AS (
         |  $andState
         |), andhit AS (
         |  SELECT b.doc_id, count(DISTINCT b.band) AS nd_hits
         |  FROM abands b JOIN andstate s
         |    ON s.band = b.band AND s.bkey = b.bkey AND s.doc_id != b.doc_id
         |  GROUP BY 1
         |), andn AS (
         |  SELECT doc_id, count(*) AS nd_n FROM abands GROUP BY 1
         |), aep AS (
         |  SELECT d.doc_id, d.source, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |), asig AS (
         |  SELECT doc_id, source, embedding,
         |$bitCols
         |  FROM aep
         |), abanded AS (
         |$bandSelects
         |), aembad AS (
         |  SELECT DISTINCT x.doc_id
         |  FROM abanded x JOIN abanded y
         |    ON x.band = y.band AND x.bkey = y.bkey
         |  WHERE y.source IN ('src0','src1')
         |    AND ${cosineSql("x.embedding", "y.embedding")} >= 0.42
         |), ${lmPerDocChain(_ => "TRUE", "alm_")},
         |${nbChain("TRUE", "anb_")},
         |averd AS MATERIALIZED (
         |  SELECT d.doc_id,
         |    d.source NOT IN ('src0','src1') AS src_pass,
         |    (a.n_tok >= 5 AND a.n_stop >= 1 AND 4*a.n_dis >= a.n_tok) AS q_pass,
         |    CAST(a.n_dis AS DOUBLE) / CAST(a.n_tok AS DOUBLE) AS q_score,
         |    (COALESCE(g.n_sh, 0) = 0 OR
         |     CAST(g.n_hit AS DOUBLE) < 0.3 * CAST(g.n_sh AS DOUBLE)) AS c_pass,
         |    CASE WHEN g.n_sh > 0
         |         THEN CAST(g.n_hit AS DOUBLE) / CAST(g.n_sh AS DOUBLE) END AS c_score,
         |    (d.doc_id NOT IN (SELECT doc_id FROM aembad)) AS sem_pass,
         |    (lm.avg_lp IS NOT NULL AND lm.avg_lp >= -3.40) AS lm_pass,
         |    lm.avg_lp AS lm_score,
         |    COALESCE(f.label = 'en', FALSE) AS nb_pass,
         |    CAST(f.score_fp AS DOUBLE) AS nb_score,
         |    (COALESCE(h.nd_hits, 0) = 0) AS nd_pass,
         |    CASE WHEN n.nd_n IS NOT NULL
         |         THEN CAST(COALESCE(h.nd_hits, 0) AS DOUBLE) /
         |              CAST(n.nd_n AS DOUBLE) END AS nd_score
         |  FROM documents d
         |  JOIN aq a USING (doc_id)
         |  LEFT JOIN aagg g USING (doc_id)
         |  JOIN alm_lm lm ON lm.doc_id = d.doc_id
         |  LEFT JOIN (SELECT doc_id, label, score_fp FROM anb_fin WHERE rn = 1) f
         |    ON f.doc_id = d.doc_id
         |  LEFT JOIN andn n ON n.doc_id = d.doc_id
         |  LEFT JOIN andhit h ON h.doc_id = d.doc_id
         |)""".stripMargin
  }

  /** [[admissionVerdictCtes]] + the long-table emission — the
    * corpus_admission_report / stream_admission_restart oracle.
    */
  lazy val admissionReportOracle: String =
    admissionVerdictCtes + admissionReportEmission

  /** The long-table emission over `averd` — shared by the canonical
    * report oracle and the compacted-state variant.
    */
  private lazy val admissionReportEmission: String =
      """
        |SELECT doc_id, gate, pass, score FROM (
        |  SELECT doc_id, '1_source' AS gate, src_pass AS pass,
        |         CAST(NULL AS DOUBLE) AS score FROM averd
        |  UNION ALL
        |  SELECT doc_id, '2_quality', q_pass, q_score FROM averd
        |  UNION ALL
        |  SELECT doc_id, '3_contamination', c_pass, c_score FROM averd
        |  UNION ALL
        |  SELECT doc_id, '4_semantic', sem_pass, CAST(NULL AS DOUBLE) FROM averd
        |  UNION ALL
        |  SELECT doc_id, '5_lm', lm_pass, lm_score FROM averd
        |  UNION ALL
        |  SELECT doc_id, '6_nb', nb_pass, nb_score FROM averd
        |  UNION ALL
        |  SELECT doc_id, '7_neardup', nd_pass, nd_score FROM averd
        |  UNION ALL
        |  SELECT doc_id, '8_decision',
        |         (src_pass AND q_pass AND c_pass AND sem_pass
        |          AND lm_pass AND nb_pass AND nd_pass),
        |         CAST(NULL AS DOUBLE) FROM averd
        |)
        |ORDER BY doc_id, gate""".stripMargin

  /** [[admissionVerdictCtes]] + the per-gate calibration rollup — the
    * corpus_admission_overlap oracle: per gate, how many docs it fails
    * and how many it ALONE keeps out (the doc passes the other six).
    */
  /** (gate name, averd pass column) in decision order — shared by the
    * overlap rollup and overlap matrix oracles.
    */
  private val admissionGateCols = Seq(
    "1_source" -> "src_pass", "2_quality" -> "q_pass",
    "3_contamination" -> "c_pass", "4_semantic" -> "sem_pass",
    "5_lm" -> "lm_pass", "6_nb" -> "nb_pass", "7_neardup" -> "nd_pass")

  lazy val admissionOverlapOracle: String = {
    val legs = admissionGateCols.map { case (g, c) =>
      val others = admissionGateCols.collect { case (_, o) if o != c => o }
        .mkString(" AND ")
      s"""SELECT '$g' AS gate,
         |       count(*) FILTER (WHERE NOT $c) AS n_fail,
         |       count(*) FILTER (WHERE NOT $c AND $others) AS n_fail_alone
         |FROM averd""".stripMargin
    }.mkString("\nUNION ALL\n")
    admissionVerdictCtes + "\n" + legs + "\nORDER BY gate"
  }

  /** [[admissionVerdictCtes]] + joint-failure counts per unordered gate
    * pair (diagonal = the gate's own n_fail) — the
    * corpus_admission_overlap_matrix oracle.
    */
  lazy val admissionOverlapMatrixOracle: String = {
    val legs = (for {
      (ga, ca) <- admissionGateCols
      (gb, cb) <- admissionGateCols if ga <= gb
    } yield
      s"""SELECT '$ga' AS gate_a, '$gb' AS gate_b,
         |       count(*) FILTER (WHERE NOT $ca AND NOT $cb) AS n_both
         |FROM averd""".stripMargin).mkString("\nUNION ALL\n")
    admissionVerdictCtes + "\n" + legs + "\nORDER BY gate_a, gate_b"
  }

  /** [[admissionVerdictCtes]] + cumulative survival counts in decision
    * order — the corpus_admission_funnel oracle.
    */
  lazy val admissionFunnelOracle: String = {
    val legs = admissionGateCols.zipWithIndex.map { case ((g, _), i) =>
      val before =
        if (i == 0) "TRUE"
        else admissionGateCols.take(i).map(_._2).mkString(" AND ")
      val upTo = admissionGateCols.take(i + 1).map(_._2).mkString(" AND ")
      s"""SELECT '$g' AS gate,
         |       count(*) FILTER (WHERE $before) AS n_in,
         |       count(*) FILTER (WHERE $upTo) AS n_out
         |FROM averd""".stripMargin
    }.mkString("\nUNION ALL\n")
    admissionVerdictCtes + "\n" + legs + "\nORDER BY gate"
  }

  /** [[admissionVerdictCtes]] + the LM threshold sweep counts — the
    * corpus_admission_lm_sweep oracle.
    */
  lazy val admissionLmSweepOracle: String = {
    val others = admissionGateCols.collect { case (g, c) if g != "5_lm" => c }
      .mkString(" AND ")
    val legs = Seq(-3.60, -3.50, -3.40, -3.30, -3.20).map { t =>
      s"""SELECT CAST($t AS DOUBLE) AS threshold,
         |       count(*) FILTER (WHERE lm_score IS NULL OR lm_score < $t) AS n_fail,
         |       count(*) FILTER (WHERE $others AND lm_score IS NOT NULL
         |                          AND lm_score >= $t) AS n_admit
         |FROM averd""".stripMargin
    }.mkString("\nUNION ALL\n")
    admissionVerdictCtes + "\n" + legs + "\nORDER BY threshold"
  }

  /** The shared-artifact lifecycle oracle (round 15): the per-gate
    * overlap rollup and the pairwise matrix STACKED (kind = overlap |
    * matrix) over one verdict chain — pins corpus_admission_lifecycle's
    * persisted-report end-to-end chain.
    */
  lazy val admissionLifecycleOracle: String = {
    val ov = admissionGateCols.map { case (g, c) =>
      val others = admissionGateCols.collect { case (_, o) if o != c => o }
        .mkString(" AND ")
      s"""SELECT 'overlap' AS kind, '$g' AS gate_a,
         |       CAST(NULL AS VARCHAR) AS gate_b,
         |       count(*) FILTER (WHERE NOT $c) AS n_fail,
         |       count(*) FILTER (WHERE NOT $c AND $others) AS n_fail_alone,
         |       CAST(NULL AS BIGINT) AS n_both
         |FROM averd""".stripMargin
    }
    val mat = for {
      (ga, ca) <- admissionGateCols
      (gb, cb) <- admissionGateCols if ga <= gb
    } yield
      s"""SELECT 'matrix' AS kind, '$ga' AS gate_a, '$gb' AS gate_b,
         |       CAST(NULL AS BIGINT) AS n_fail,
         |       CAST(NULL AS BIGINT) AS n_fail_alone,
         |       count(*) FILTER (WHERE NOT $ca AND NOT $cb) AS n_both
         |FROM averd""".stripMargin
    admissionVerdictCtes + "\n" + (ov ++ mat).mkString("\nUNION ALL\n") +
      "\nORDER BY kind, gate_a, gate_b"
  }

  /** The FULL lifecycle oracle (round 15 close): all four calibration
    * consumers (overlap, matrix, funnel, sweep) stacked in the widened
    * generic schema over one verdict chain — pins
    * corpus_admission_lifecycle_full's persisted-report chain.
    */
  lazy val admissionLifecycleFullOracle: String = {
    val pad = Seq("n_fail" -> "BIGINT", "n_fail_alone" -> "BIGINT",
      "n_both" -> "BIGINT", "n_in" -> "BIGINT", "n_out" -> "BIGINT",
      "n_admit" -> "BIGINT")
    def cols(kind: String, gateA: String, gateB: String, thr: String,
             set: Map[String, String]) = {
      val head = Seq(s"'$kind' AS kind", s"$gateA AS gate_a",
        s"$gateB AS gate_b", s"$thr AS threshold")
      val tail = pad.map { case (c, t) =>
        s"${set.getOrElse(c, s"CAST(NULL AS $t)")} AS $c"
      }
      (head ++ tail).mkString(",\n       ")
    }
    val ov = admissionGateCols.map { case (g, c) =>
      val others = admissionGateCols.collect { case (_, o) if o != c => o }
        .mkString(" AND ")
      s"""SELECT ${cols("overlap", s"'$g'", "CAST(NULL AS VARCHAR)",
           "CAST(NULL AS DOUBLE)", Map(
             "n_fail" -> s"count(*) FILTER (WHERE NOT $c)",
             "n_fail_alone" ->
               s"count(*) FILTER (WHERE NOT $c AND $others)"))}
         |FROM averd""".stripMargin
    }
    val mat = for {
      (ga, ca) <- admissionGateCols
      (gb, cb) <- admissionGateCols if ga <= gb
    } yield
      s"""SELECT ${cols("matrix", s"'$ga'", s"'$gb'",
           "CAST(NULL AS DOUBLE)", Map(
             "n_both" -> s"count(*) FILTER (WHERE NOT $ca AND NOT $cb)"))}
         |FROM averd""".stripMargin
    val fun = admissionGateCols.zipWithIndex.map { case ((g, _), i) =>
      val before =
        if (i == 0) "TRUE"
        else admissionGateCols.take(i).map(_._2).mkString(" AND ")
      val upTo = admissionGateCols.take(i + 1).map(_._2).mkString(" AND ")
      s"""SELECT ${cols("funnel", s"'$g'", "CAST(NULL AS VARCHAR)",
           "CAST(NULL AS DOUBLE)", Map(
             "n_in" -> s"count(*) FILTER (WHERE $before)",
             "n_out" -> s"count(*) FILTER (WHERE $upTo)"))}
         |FROM averd""".stripMargin
    }
    val others5 = admissionGateCols.collect {
      case (g, c) if g != "5_lm" => c }.mkString(" AND ")
    val sw = Seq(-3.60, -3.50, -3.40, -3.30, -3.20).map { t =>
      s"""SELECT ${cols("sweep", "CAST(NULL AS VARCHAR)",
           "CAST(NULL AS VARCHAR)", s"CAST($t AS DOUBLE)", Map(
             "n_fail" ->
               s"count(*) FILTER (WHERE lm_score IS NULL OR lm_score < $t)",
             "n_admit" -> (s"count(*) FILTER (WHERE $others5 AND lm_score " +
               s"IS NOT NULL AND lm_score >= $t)")))}
         |FROM averd""".stripMargin
    }
    admissionVerdictCtes + "\n" +
      (ov ++ mat ++ fun ++ sw).mkString("\nUNION ALL\n") +
      "\nORDER BY kind, gate_a, gate_b, threshold"
  }

  /** The score-profile oracle (round 15): exact type-1 quantiles of
    * each scored gate's non-null scores — the element at 1-based rank
    * `greatest(1, ceil(q·n))` in ascending (score, doc_id) order. No
    * interpolation, so the value is a member of the verdict chain's
    * score multiset and parity with Spark is exact by construction.
    */
  lazy val admissionScoreProfileOracle: String = {
    val scoredGates = Seq("2_quality" -> "q_score",
      "3_contamination" -> "c_score", "5_lm" -> "lm_score",
      "6_nb" -> "nb_score", "7_neardup" -> "nd_score")
    val long = scoredGates.map { case (g, c) =>
      s"SELECT doc_id, '$g' AS gate, $c AS score FROM averd WHERE $c IS NOT NULL"
    }.mkString("\nUNION ALL\n")
    admissionVerdictCtes +
      s""", aslong AS (
         |$long
         |), asrank AS (
         |  SELECT gate, score,
         |         row_number() OVER (PARTITION BY gate
         |                            ORDER BY score, doc_id) AS rn,
         |         count(*) OVER (PARTITION BY gate) AS n
         |  FROM aslong
         |)
         |SELECT r.gate, q.q, r.n AS n_scored, r.score
         |FROM asrank r
         |JOIN (SELECT CAST(q AS DOUBLE) AS q
         |      FROM (VALUES (0.0),(0.25),(0.5),(0.75),(1.0)) t(q)) q
         |  ON r.rn = greatest(1, CAST(ceil(q.q * r.n) AS BIGINT))
         |ORDER BY gate, q""".stripMargin
  }

  /** The compacted-state report oracle (round 15): the near-dup gate's
    * state is the KEEPER-ONLY band set — keepers derived independently
    * here (bucket-star connected components over the admitted cohort's
    * bands, best n_chars per cluster, ties to the smaller id — the
    * dedup_compact_global machinery applied to the cohort), so the
    * compactor and the front door cannot drift.
    */
  lazy val admissionCompactedReportOracle: String = {
    val extra =
      """, acoh AS (
        |  SELECT DISTINCT doc_id, band, bkey FROM abands WHERE doc_id % 7 = 3
        |  UNION
        |  SELECT doc_id + 10000000, band, bkey FROM abands
        |  WHERE doc_id % 7 = 3 AND doc_id % 3 = 0
        |), acbmin AS (
        |  SELECT band, bkey, min(doc_id) AS root FROM acoh GROUP BY 1, 2
        |), acedges0 AS (
        |  SELECT DISTINCT m.root AS a, b.doc_id AS b
        |  FROM acoh b JOIN acbmin m USING (band, bkey)
        |  WHERE b.doc_id <> m.root
        |), acedges AS (
        |  SELECT a, b FROM acedges0 UNION SELECT b, a FROM acedges0
        |), acreach(node, m) AS (
        |  SELECT a, a FROM acedges
        |  UNION
        |  SELECT e.a, r.m FROM acedges e JOIN acreach r ON r.node = e.b
        |), accl AS (
        |  SELECT node AS doc_id, min(m) AS cluster_id FROM acreach GROUP BY 1
        |), accoh AS (
        |  SELECT doc_id, n_chars FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id + 10000000, n_chars FROM documents
        |  WHERE doc_id % 7 = 3 AND doc_id % 3 = 0
        |), acall AS (
        |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
        |         d.n_chars
        |  FROM accoh d LEFT JOIN accl c USING (doc_id)
        |), ackeep AS (
        |  SELECT doc_id AS keeper FROM (
        |    SELECT cluster_id, doc_id,
        |           row_number() OVER (PARTITION BY cluster_id
        |                              ORDER BY n_chars DESC, doc_id ASC) AS rn
        |    FROM acall) WHERE rn = 1
        |)""".stripMargin
    admissionVerdictCtesWith(
      andState = "SELECT b.doc_id, b.band, b.bkey FROM acoh b " +
        "JOIN ackeep k ON k.keeper = b.doc_id",
      extraCtes = extra, recursive = true) + admissionReportEmission
  }

  /** The per-release overlap matrix oracle (round 15): every verdict is
    * a per-doc function of the FROZEN artifacts, so each release's
    * matrix is the canonical chain's counts restricted to that
    * release's doc set (t0 drops ≡ 1 mod 7, t1 drops ≡ 2 — the
    * corpus_release_diff topology).
    */
  lazy val admissionMatrixReleasesOracle: String = {
    def legs(rel: String, pred: String) = for {
      (ga, ca) <- admissionGateCols
      (gb, cb) <- admissionGateCols if ga <= gb
    } yield
      s"""SELECT '$rel' AS release, '$ga' AS gate_a, '$gb' AS gate_b,
         |       count(*) FILTER (WHERE NOT $ca AND NOT $cb) AS n_both
         |FROM averd WHERE $pred""".stripMargin
    admissionVerdictCtes + "\n" +
      (legs("t0", "doc_id % 7 <> 1") ++ legs("t1", "doc_id % 7 <> 2"))
        .mkString("\nUNION ALL\n") +
      "\nORDER BY release, gate_a, gate_b"
  }

  /** The model-retrain churn oracle (round 15): the model gates (LM,
    * NB) re-derived under each release's OWN training set via the
    * parameterized chain builders, the other five gates frozen from
    * the canonical chain — so the oracle pins exactly which shared
    * docs flip when models retrain, bit-for-bit including both
    * releases' scores.
    */
  /** The per-release model chains (LM + NB trained on each release's
    * corpus) — shared by the churn, drift, and retrain-calibration
    * oracles.
    */
  private lazy val churnModelChains: String = Seq(
    lmPerDocChain(id => s"$id % 7 <> 1", "clm0_"),
    lmPerDocChain(id => s"$id % 7 <> 2", "clm1_"),
    nbChain("doc_id % 7 <> 1", "cnb0_"),
    nbChain("doc_id % 7 <> 2", "cnb1_")).mkString(",\n")

  /** [[admissionVerdictCtes]] + [[churnModelChains]] + the side-by-side
    * per-release verdict table `cver` over the shared t0∩t1 doc set —
    * the base every retrain-axis oracle reads.
    */
  private lazy val churnVerdictCtes: String =
    admissionVerdictCtes + ",\n" + churnModelChains +
      """, cver AS MATERIALIZED (
        |  SELECT v.doc_id,
        |    (v.src_pass AND v.q_pass AND v.c_pass AND v.sem_pass
        |     AND v.nd_pass) AS frozen_pass,
        |    (l0.avg_lp IS NOT NULL AND l0.avg_lp >= -3.40) AS lm_pass_t0,
        |    l0.avg_lp AS lm_score_t0,
        |    (l1.avg_lp IS NOT NULL AND l1.avg_lp >= -3.40) AS lm_pass_t1,
        |    l1.avg_lp AS lm_score_t1,
        |    COALESCE(f0.label = 'en', FALSE) AS nb_pass_t0,
        |    CAST(f0.score_fp AS DOUBLE) AS nb_score_t0,
        |    COALESCE(f1.label = 'en', FALSE) AS nb_pass_t1,
        |    CAST(f1.score_fp AS DOUBLE) AS nb_score_t1
        |  FROM averd v
        |  JOIN clm0_lm l0 ON l0.doc_id = v.doc_id
        |  JOIN clm1_lm l1 ON l1.doc_id = v.doc_id
        |  LEFT JOIN (SELECT doc_id, label, score_fp FROM cnb0_fin
        |             WHERE rn = 1) f0 ON f0.doc_id = v.doc_id
        |  LEFT JOIN (SELECT doc_id, label, score_fp FROM cnb1_fin
        |             WHERE rn = 1) f1 ON f1.doc_id = v.doc_id
        |  WHERE v.doc_id % 7 <> 1 AND v.doc_id % 7 <> 2
        |)""".stripMargin

  lazy val admissionModelChurnOracle: String = {
    churnVerdictCtes +
      """
        |SELECT doc_id, gate, pass_t0, score_t0, pass_t1, score_t1,
        |       pass_t0 <> pass_t1 AS flipped
        |FROM (
        |  SELECT doc_id, '5_lm' AS gate, lm_pass_t0 AS pass_t0,
        |         lm_score_t0 AS score_t0, lm_pass_t1 AS pass_t1,
        |         lm_score_t1 AS score_t1 FROM cver
        |  UNION ALL
        |  SELECT doc_id, '6_nb', nb_pass_t0, nb_score_t0,
        |         nb_pass_t1, nb_score_t1 FROM cver
        |  UNION ALL
        |  SELECT doc_id, '8_decision',
        |         frozen_pass AND lm_pass_t0 AND nb_pass_t0,
        |         CAST(NULL AS DOUBLE),
        |         frozen_pass AND lm_pass_t1 AND nb_pass_t1,
        |         CAST(NULL AS DOUBLE) FROM cver
        |)
        |ORDER BY doc_id, gate""".stripMargin
  }

  /** The retrain-lifecycle oracle (round 16, replacing the round-15
    * trio's three standalone oracles): churn rollup, per-release LM
    * threshold sweep, per-release score-quantile profiles and the
    * per-release 'en'-margin reliability bins, ALL stacked over one
    * `cver` chain — pinning corpus_admission_retrain_lifecycle
    * including the cross-rollup law (the admit delta at the
    * production cut IS the decision gate's gain − loss, since both
    * count the same verdict flips) and the frozen-gate controls.
    * The wide NULL-padded schema (20 columns) is the price of one
    * oracle pinning four row shapes; every leg's padding is typed so
    * the UNION resolves identically in both engines.
    */
  lazy val admissionRetrainLifecycleOracle: String = {
    val gates = Seq(
      "5_lm" -> (("lm_pass_t0", "lm_pass_t1")),
      "6_nb" -> (("nb_pass_t0", "nb_pass_t1")),
      "8_decision" -> (("(frozen_pass AND lm_pass_t0 AND nb_pass_t0)",
        "(frozen_pass AND lm_pass_t1 AND nb_pass_t1)")))
    val nlB = "CAST(NULL AS BIGINT)"
    val nlD = "CAST(NULL AS DOUBLE)"
    val nlS = "CAST(NULL AS VARCHAR)"
    // the AUC slice (round 17) widens the stacked schema by three
    // columns; every non-auc leg pads them NULL in the same position
    // so the UNION resolves identically in both engines
    val aucPad = s"$nlB AS n_neg, $nlB AS u2, $nlD AS auc"
    val binPad = s"$nlB AS bin, $nlB AS bin_lo, $nlB AS n, " +
      s"$nlB AS n_pos, $nlD AS pos_rate, " + aucPad
    val churn = gates.map { case (g, (p0, p1)) =>
      s"""SELECT 'churn' AS kind, '$g' AS gate, $nlS AS release,
         |       $nlD AS threshold, $nlD AS q, $nlB AS n_scored,
         |       $nlD AS score,
         |       count(*) AS n_shared,
         |       count(*) FILTER (WHERE $p0 <> $p1) AS n_flipped,
         |       count(*) FILTER (WHERE NOT $p0 AND $p1) AS n_gain,
         |       count(*) FILTER (WHERE $p0 AND NOT $p1) AS n_loss,
         |       $nlB AS n_fail_t0, $nlB AS n_admit_t0,
         |       $nlB AS n_fail_t1, $nlB AS n_admit_t1,
         |       $binPad
         |FROM cver""".stripMargin
    }
    val sweep = Seq(-3.60, -3.50, -3.40, -3.30, -3.20).map { t =>
      def leg(rel: String) =
        s"""count(*) FILTER (WHERE lm_score_$rel IS NULL
           |         OR lm_score_$rel < $t) AS n_fail_$rel,
           |       count(*) FILTER (WHERE frozen_pass AND nb_pass_$rel
           |         AND lm_score_$rel IS NOT NULL
           |         AND lm_score_$rel >= $t) AS n_admit_$rel""".stripMargin
      s"""SELECT 'sweep' AS kind, $nlS AS gate, $nlS AS release,
         |       CAST($t AS DOUBLE) AS threshold, $nlD AS q,
         |       $nlB AS n_scored, $nlD AS score,
         |       $nlB AS n_shared, $nlB AS n_flipped,
         |       $nlB AS n_gain, $nlB AS n_loss,
         |       ${leg("t0")},
         |       ${leg("t1")},
         |       $binPad
         |FROM cver""".stripMargin
    }
    val profile =
      s"""SELECT 'profile' AS kind, r.gate, r.release,
         |       $nlD AS threshold, q.q, r.n AS n_scored, r.score,
         |       $nlB AS n_shared, $nlB AS n_flipped,
         |       $nlB AS n_gain, $nlB AS n_loss,
         |       $nlB AS n_fail_t0, $nlB AS n_admit_t0,
         |       $nlB AS n_fail_t1, $nlB AS n_admit_t1,
         |       $binPad
         |FROM drank r
         |JOIN (SELECT CAST(q AS DOUBLE) AS q
         |      FROM (VALUES (0.0),(0.25),(0.5),(0.75),(1.0)) t(q)) q
         |  ON r.rn = greatest(1, CAST(ceil(q.q * r.n) AS BIGINT))""".stripMargin
    val bins = Seq("t0" -> "0", "t1" -> "1").map { case (rel, i) =>
      s"""SELECT 'bins' AS kind, 'nb_margin_en' AS gate, '$rel' AS release,
         |       $nlD AS threshold, $nlD AS q, $nlB AS n_scored,
         |       $nlD AS score,
         |       $nlB AS n_shared, $nlB AS n_flipped,
         |       $nlB AS n_gain, $nlB AS n_loss,
         |       $nlB AS n_fail_t0, $nlB AS n_admit_t0,
         |       $nlB AS n_fail_t1, $nlB AS n_admit_t1,
         |       bin, CAST(bin * 4000 AS BIGINT) AS bin_lo,
         |       CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
         |       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
         |       $aucPad
         |FROM cbin$i""".stripMargin
    }
    val auc =
      s"""SELECT 'auc' AS kind, gate, release,
         |       $nlD AS threshold, $nlD AS q,
         |       CAST(n_pos + n_neg AS BIGINT) AS n_scored, $nlD AS score,
         |       $nlB AS n_shared, $nlB AS n_flipped,
         |       $nlB AS n_gain, $nlB AS n_loss,
         |       $nlB AS n_fail_t0, $nlB AS n_admit_t0,
         |       $nlB AS n_fail_t1, $nlB AS n_admit_t1,
         |       $nlB AS bin, $nlB AS bin_lo, $nlB AS n, n_pos,
         |       $nlD AS pos_rate, n_neg, u2, auc
         |FROM rlauc""".stripMargin
    churnVerdictCtes + ",\n" + retrainProfileCtes + ",\n" +
      retrainMarginBinCtes + ",\n" + retrainAucCtes + "\n" +
      (churn ++ sweep ++ Seq(profile) ++ bins ++ Seq(auc))
        .mkString("\nUNION ALL\n") +
      "\nORDER BY kind, gate, release, threshold, q, bin"
  }

  /** Per-(release, gate) exact-AUC CTEs for the lifecycle oracle's
    * auc slice (round 17): each scored gate's fixed-point-projected
    * score ranked against THAT release's keep/drop verdict — frozen
    * gates read `averd` (their scores do not move; the label under
    * them does), model gates read `cver`'s per-release scores. The
    * tie-group / cumulative-negatives / integer-u2 machinery is the
    * gate-AUC oracle's, keyed by (release, gate).
    */
  private lazy val retrainAucCtes: String = {
    def legs(rel: String) = {
      val kept = s"(c.frozen_pass AND c.lm_pass_$rel AND c.nb_pass_$rel)"
      Seq("2_quality" -> "v.q_score", "3_contamination" -> "v.c_score",
        "7_neardup" -> "v.nd_score").map { case (g, sc) =>
        s"""SELECT '$rel' AS release, '$g' AS gate,
           |       ${aucScoreFpSql(g, sc)} AS s, $kept AS kept
           |FROM cver c JOIN averd v USING (doc_id)
           |WHERE $sc IS NOT NULL""".stripMargin
      } ++ Seq(
        s"""SELECT '$rel', '5_lm',
           |       ${aucScoreFpSql("5_lm", s"c.lm_score_$rel")}, $kept
           |FROM cver c WHERE c.lm_score_$rel IS NOT NULL""".stripMargin,
        s"""SELECT '$rel', '6_nb',
           |       ${aucScoreFpSql("6_nb", s"c.nb_score_$rel")}, $kept
           |FROM cver c WHERE c.nb_score_$rel IS NOT NULL""".stripMargin)
    }
    s"""rlong AS (
       |${(legs("t0") ++ legs("t1")).mkString("\nUNION ALL\n")}
       |), rlag AS (
       |  SELECT release, gate, s,
       |         count(*) FILTER (WHERE kept) AS np,
       |         count(*) FILTER (WHERE NOT kept) AS nn
       |  FROM rlong GROUP BY 1, 2, 3
       |), rlac AS (
       |  SELECT release, gate, np, nn,
       |         coalesce(sum(nn) OVER (PARTITION BY release, gate ORDER BY s
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |           0) AS cneg
       |  FROM rlag
       |), rlauc AS (
       |  SELECT release, gate,
       |         CAST(sum(np) AS BIGINT) AS n_pos,
       |         CAST(sum(nn) AS BIGINT) AS n_neg,
       |         CAST(sum(np * (2 * cneg + nn)) AS BIGINT) AS u2,
       |         CASE WHEN sum(np) > 0 AND sum(nn) > 0
       |           THEN CAST(sum(np * (2 * cneg + nn)) AS DOUBLE) /
       |                (2.0 * sum(np) * sum(nn)) END AS auc
       |  FROM rlac GROUP BY 1, 2
       |)""".stripMargin
  }

  /** The gate-AUC oracle (round 16): each scored gate's score ranked
    * against the final keep/drop decision — the text_nb_auc machinery
    * (tie-group counts, cumulative-negatives window over DISTINCT
    * scores, integer u2 numerator, one final division) applied to the
    * admission ensemble's own decision table.
    */
  /** The fixed-point rank projection the AUC oracles share with the
    * Spark side's `admissionScoreFp` (round 17): NB scores are exact
    * integral doubles (plain CAST); fractional scores go through
    * floor(s·2^40) — exact in both engines, order-preserving,
    * identical sub-2^-40 tie-merging.
    */
  private def aucScoreFpSql(gate: String, c: String): String =
    if (gate == "6_nb") s"CAST($c AS BIGINT)"
    else s"CAST(floor($c * 1099511627776.0) AS BIGINT)"

  lazy val admissionGateAucOracle: String = {
    val legs = Seq(
      "2_quality" -> "q_score", "3_contamination" -> "c_score",
      "5_lm" -> "lm_score", "6_nb" -> "nb_score",
      "7_neardup" -> "nd_score").map { case (g, c) =>
      s"""SELECT '$g' AS gate, ${aucScoreFpSql(g, s"v.$c")} AS s, a.kept
         |FROM averd v JOIN adec a USING (doc_id)
         |WHERE v.$c IS NOT NULL""".stripMargin
    }
    admissionVerdictCtes +
      s""", adec AS (
         |  SELECT doc_id,
         |         (src_pass AND q_pass AND c_pass AND sem_pass
         |          AND lm_pass AND nb_pass AND nd_pass) AS kept
         |  FROM averd
         |), aglong AS (
         |${legs.mkString("\nUNION ALL\n")}
         |), ag AS (
         |  SELECT gate, s,
         |         count(*) FILTER (WHERE kept) AS np,
         |         count(*) FILTER (WHERE NOT kept) AS nn
         |  FROM aglong GROUP BY 1, 2
         |), ac AS (
         |  SELECT gate, np, nn,
         |         coalesce(sum(nn) OVER (PARTITION BY gate ORDER BY s
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |           0) AS cneg
         |  FROM ag
         |)
         |SELECT gate, CAST(sum(np) AS BIGINT) AS n_pos,
         |       CAST(sum(nn) AS BIGINT) AS n_neg,
         |       CAST(sum(np * (2 * cneg + nn)) AS BIGINT) AS u2,
         |       CASE WHEN sum(np) > 0 AND sum(nn) > 0
         |         THEN CAST(sum(np * (2 * cneg + nn)) AS DOUBLE) /
         |              (2.0 * sum(np) * sum(nn)) END AS auc
         |FROM ac GROUP BY gate
         |ORDER BY gate""".stripMargin
  }

  /** The per-release scored-gate long table + rank CTEs the lifecycle
    * oracle's profile leg reads: frozen scored gates from the
    * canonical chain restricted to the shared doc set, model-gate
    * scores re-derived under each release's own training set, ranked
    * per (release, gate) with the no-interpolation rank-join.
    */
  private lazy val retrainProfileCtes: String = {
    def relLegs(rel: String, lmP: String, nbP: String) = Seq(
      s"""SELECT '$rel' AS release, v.doc_id, '2_quality' AS gate,
         |       v.q_score AS score FROM averd v JOIN dsh USING (doc_id)
         |WHERE v.q_score IS NOT NULL""".stripMargin,
      s"""SELECT '$rel', v.doc_id, '3_contamination', v.c_score
         |FROM averd v JOIN dsh USING (doc_id)
         |WHERE v.c_score IS NOT NULL""".stripMargin,
      s"""SELECT '$rel', v.doc_id, '7_neardup', v.nd_score
         |FROM averd v JOIN dsh USING (doc_id)
         |WHERE v.nd_score IS NOT NULL""".stripMargin,
      s"""SELECT '$rel', l.doc_id, '5_lm', l.avg_lp
         |FROM ${lmP}lm l JOIN dsh USING (doc_id)
         |WHERE l.avg_lp IS NOT NULL""".stripMargin,
      s"""SELECT '$rel', f.doc_id, '6_nb', CAST(f.score_fp AS DOUBLE)
         |FROM (SELECT doc_id, score_fp FROM ${nbP}fin WHERE rn = 1) f
         |JOIN dsh USING (doc_id)""".stripMargin)
    s"""dsh AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id % 7 <> 1 AND doc_id % 7 <> 2
       |), dlong AS (
       |${(relLegs("t0", "clm0_", "cnb0_") ++
           relLegs("t1", "clm1_", "cnb1_")).mkString("\nUNION ALL\n")}
       |), drank AS (
       |  SELECT release, gate, score,
       |         row_number() OVER (PARTITION BY release, gate
       |                            ORDER BY score, doc_id) AS rn,
       |         count(*) OVER (PARTITION BY release, gate) AS n
       |  FROM dlong
       |)""".stripMargin
  }

  /** Per-release 'en' one-vs-rest margin + reliability-bin CTEs for
    * the lifecycle oracle's bins leg: the bounded self-join margin
    * (the text_nb_calibration form) over each release's NB chain,
    * restricted to the shared doc set, with the TRUE language as the
    * ground-truth label and exact floor-division bin ids (`//` keeps
    * the division integral — the Spark side's `div`).
    */
  private lazy val retrainMarginBinCtes: String =
    Seq("0", "1").map { i =>
      s"""cmg$i AS (
         |  SELECT a.doc_id,
         |         CAST(a.score_fp - max(b.score_fp) AS BIGINT) AS s
         |  FROM cnb${i}_fin a JOIN cnb${i}_fin b
         |    ON b.doc_id = a.doc_id AND b.label <> a.label
         |  WHERE a.label = 'en'
         |    AND a.doc_id % 7 <> 1 AND a.doc_id % 7 <> 2
         |  GROUP BY a.doc_id, a.score_fp
         |), clab$i AS (
         |  SELECT m.s, (d.lang = 'en') AS is_pos
         |  FROM cmg$i m JOIN documents d USING (doc_id)
         |), cbin$i AS (
         |  SELECT CAST((s - (((s % 4000) + 4000) % 4000)) // 4000
         |           AS BIGINT) AS bin,
         |         count(*) AS n,
         |         count(*) FILTER (WHERE is_pos) AS n_pos
         |  FROM clab$i GROUP BY 1
         |)""".stripMargin
    }.mkString(", ")

  /** The streamed model-rollout oracle (round 15): a doc's verdicts
    * are the t0-model columns of the churn chain if its batch arrived
    * before the swap (doc_id % 3 in (0, 1) under the pinned staging),
    * the t1 columns after — batch==stream extended to model
    * versioning. Non-model gates come from the canonical frozen chain
    * and are version-independent by construction.
    */
  lazy val admissionModelSwapOracle: String = {
    churnVerdictCtes +
      """, sver AS (
        |  SELECT a.doc_id,
        |    CASE WHEN a.doc_id % 3 = 2 THEN c.lm_pass_t1
        |         ELSE c.lm_pass_t0 END AS lm_pass,
        |    CASE WHEN a.doc_id % 3 = 2 THEN c.lm_score_t1
        |         ELSE c.lm_score_t0 END AS lm_score,
        |    CASE WHEN a.doc_id % 3 = 2 THEN c.nb_pass_t1
        |         ELSE c.nb_pass_t0 END AS nb_pass,
        |    CASE WHEN a.doc_id % 3 = 2 THEN c.nb_score_t1
        |         ELSE c.nb_score_t0 END AS nb_score,
        |    a.src_pass, a.q_pass, a.q_score, a.c_pass, a.c_score,
        |    a.sem_pass, a.nd_pass, a.nd_score, c.frozen_pass,
        |    CASE WHEN a.doc_id % 3 = 2 THEN 'v1' ELSE 'v0' END AS model_version,
        |    a.doc_id % 3 AS batch_id
        |  FROM averd a JOIN cver c ON c.doc_id = a.doc_id
        |)
        |SELECT doc_id, gate, pass, score, model_version, batch_id FROM (
        |  SELECT doc_id, '1_source' AS gate, src_pass AS pass,
        |         CAST(NULL AS DOUBLE) AS score, model_version, batch_id FROM sver
        |  UNION ALL
        |  SELECT doc_id, '2_quality', q_pass, q_score, model_version, batch_id FROM sver
        |  UNION ALL
        |  SELECT doc_id, '3_contamination', c_pass, c_score, model_version, batch_id FROM sver
        |  UNION ALL
        |  SELECT doc_id, '4_semantic', sem_pass, CAST(NULL AS DOUBLE), model_version, batch_id FROM sver
        |  UNION ALL
        |  SELECT doc_id, '5_lm', lm_pass, lm_score, model_version, batch_id FROM sver
        |  UNION ALL
        |  SELECT doc_id, '6_nb', nb_pass, nb_score, model_version, batch_id FROM sver
        |  UNION ALL
        |  SELECT doc_id, '7_neardup', nd_pass, nd_score, model_version, batch_id FROM sver
        |  UNION ALL
        |  SELECT doc_id, '8_decision',
        |         (frozen_pass AND lm_pass AND nb_pass),
        |         CAST(NULL AS DOUBLE), model_version, batch_id FROM sver
        |)
        |ORDER BY doc_id, gate""".stripMargin
  }

  /** The per-release funnel oracle (round 15): like
    * [[admissionMatrixReleasesOracle]], every verdict is a per-doc
    * function of the FROZEN artifacts, so each release's funnel is
    * the canonical chain's cumulative counts restricted to that
    * release's doc set.
    */
  lazy val admissionFunnelReleasesOracle: String = {
    def legs(rel: String, pred: String) =
      admissionGateCols.zipWithIndex.map { case ((g, _), i) =>
        val before =
          if (i == 0) "TRUE"
          else admissionGateCols.take(i).map(_._2).mkString(" AND ")
        val upTo = admissionGateCols.take(i + 1).map(_._2).mkString(" AND ")
        s"""SELECT '$rel' AS release, '$g' AS gate,
           |       count(*) FILTER (WHERE $before) AS n_in,
           |       count(*) FILTER (WHERE $upTo) AS n_out
           |FROM averd WHERE $pred""".stripMargin
      }
    admissionVerdictCtes + "\n" +
      (legs("t0", "doc_id % 7 <> 1") ++ legs("t1", "doc_id % 7 <> 2"))
        .mkString("\nUNION ALL\n") +
      "\nORDER BY release, gate"
  }

  /** The hyperplane-band fragments every embedding-LSH oracle inlines:
    * `bitCols` projects one sign bit `b<p>` of `embedding` per ±1 plane
    * of [[Similarity.planeMatrix]]`(numPlanes, 64)` (the engine's own
    * planes), and `bandSelects` unions one `SELECT <cols>, <band> AS
    * band, <bkey> AS bkey FROM <from>` per band of four bits. One
    * generator, so no oracle can drift from the planes or band layout
    * the engine bands with.
    */
  def planeBandSql(numPlanes: Int, cols: String, from: String): (String, String) = {
    val planes = Similarity.planeMatrix(numPlanes, 64)
    def planeLit(p: Int): String =
      planes(p).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    val bitCols = (0 until numPlanes).map { p =>
      s"""    CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)),
         |      i -> CAST(embedding[i] AS DOUBLE) * (${planeLit(p)}::DOUBLE[])[i])) >= 0
         |      THEN 1 ELSE 0 END AS b$p""".stripMargin
    }.mkString(",\n")
    def bkey(bits: Seq[Int]) =
      bits.map(b => s"CAST(b$b AS VARCHAR)").mkString(" || ',' || ")
    val bandSelects = (0 until numPlanes / 4).map(b =>
      s"  SELECT $cols, $b AS band, ${bkey(b * 4 until (b + 1) * 4)} AS bkey FROM $from")
      .mkString("\n  UNION ALL\n")
    (bitCols, bandSelects)
  }

  def cosineSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, len($x)), i -> CAST($x[i] AS DOUBLE)*CAST($y[i] AS DOUBLE)))"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  val lshOracle: String = {
    val (bitCols, bandSelects) = planeBandSql(8, "vec_id, embedding", "sig")
    s"""WITH sig AS (
       |  SELECT vec_id, embedding,
       |$bitCols
       |  FROM embeddings
       |), banded AS (
       |$bandSelects
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, q.embedding AS qe,
       |                  c.vec_id AS cid, c.embedding AS ce
       |  FROM banded q JOIN banded c
       |    ON q.band = c.band AND q.bkey = c.bkey AND q.vec_id != c.vec_id
       |  WHERE q.vec_id < 5
       |), scored AS (
       |  SELECT qid, cid, ${cosineSql("qe", "ce")} AS sim FROM cand
       |), r AS (
       |  SELECT qid, cid,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
       |  FROM scored
       |)
       |SELECT qid, CAST(rnk AS INTEGER) AS rnk, cid FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** Mart bodies without ORDER BY, shared by the mart oracle and its
    * rename-view oracle (gold_ddl.sql:135-193 defines the views as pure
    * column aliases over the marts).
    */
  val dailySummaryCoreSql =
    s"""WITH $dimDateSql,
       |fact AS (
       |  SELECT l.l_quantity, l.l_partkey, l.l_extendedprice,
       |         CAST(year(o.o_orderdate)*10000 + month(o.o_orderdate)*100 + day(o.o_orderdate) AS INTEGER) AS start_date_id
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |)
       |SELECT d.cal_date, d.year, d.month_name, d.day_name, d.is_weekend,
       |  count(*) AS total_trips,
       |  CAST(sum(f.l_quantity) AS BIGINT) AS total_qty,
       |  sum(f.l_quantity)/count(*) AS avg_qty,
       |  count(DISTINCT f.l_partkey) AS unique_bikes,
       |  (CAST(CAST(sum(CAST(round(f.l_extendedprice*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/CAST(100 AS DOUBLE))/CAST(count(*) AS DOUBLE) AS avg_price
       |FROM fact f JOIN dim_date d ON f.start_date_id = d.date_id
       |GROUP BY 1,2,3,4,5""".stripMargin

  val popularRoutesCoreSql =
    """SELECT n1.n_name || ' -> ' || n2.n_name AS route_id,
      |  n1.n_name AS start_station, n2.n_name AS end_station,
      |  count(*) AS trip_count,
      |  CAST(sum(date_diff('day', o.o_orderdate, l.l_shipdate)) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS avg_duration_days
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |LEFT JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      |LEFT JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      |WHERE n1.n_name IS NOT NULL AND n2.n_name IS NOT NULL
      |GROUP BY n1.n_name, n2.n_name""".stripMargin

  val userBehaviorCoreSql =
    """SELECT c.c_mktsegment, o.o_orderstatus,
      |  CAST(2002 - year(o.o_orderdate) AS INTEGER) AS order_age_years,
      |  count(*) AS total_orders,
      |  CAST(CAST(sum(CAST(round(o.o_totalprice*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/CAST(100 AS DOUBLE) AS total_price,
      |  (CAST(CAST(sum(CAST(round(o.o_totalprice*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/CAST(100 AS DOUBLE))/CAST(count(*) AS DOUBLE) AS avg_price
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1, 2, 3""".stripMargin

  /** LSH-banded embedding dedup: 16 planes, 4 bands of 4 — identical
    * constants to [[Dedup.embeddingCosinePairsLsh]]'s defaults.
    */
  val embLshOracle: String = {
    val (bitCols, bandSelects) = planeBandSql(16, "vec_id, embedding", "sig")
    s"""WITH sig AS (
       |  SELECT vec_id, embedding,
       |$bitCols
       |  FROM embeddings
       |), banded AS (
       |$bandSelects
       |), cand AS (
       |  SELECT DISTINCT x.vec_id AS i, x.embedding AS ea,
       |                  y.vec_id AS j, y.embedding AS eb
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id
       |), p AS (
       |  SELECT i, j, ${cosineSql("ea", "eb")} AS sim FROM cand
       |)
       |SELECT i, j, sim FROM p WHERE sim >= 0.42
       |ORDER BY i, j""".stripMargin
  }


  // shared CTE chain: bigram pairs → add-one-smoothed model → per-pair
  // fixed-point log-prob → per-doc rollup (the text_lm_* family)
  lazy val lmPerDocCte: String = lmPerDocCteFor(_ => "TRUE")

  /** The same chain restricted to a doc cohort (train AND score) — the
    * forget oracle trains/scores the survivors only. `idPred` renders
    * the cohort predicate for a given doc-id SQL expression (the final
    * CTE needs the `d.` alias).
    */
  def lmPerDocCteFor(idPred: String => String): String =
    "WITH " + lmPerDocChain(idPred, "")

  /** The chain's CTE definitions WITHOUT the leading `WITH`, every CTE
    * name carrying `p` as a prefix — composable into a larger WITH
    * block whose other chains (e.g. the NB one — both use `tk`/`scored`)
    * would otherwise collide. `p = ""` is the standalone form.
    */
  def lmPerDocChain(idPred: String => String, p: String): String =
    s"""${p}tk AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
      |            WHERE (${idPred("doc_id")})),
      |${p}pairs AS (
      |  SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(l)-1),
      |      i -> {'w1': l[i], 'w2': l[i+1]})) AS s
      |    FROM ${p}tk WHERE len(l) >= 2)
      |), ${p}big AS (SELECT w1, w2, count(*) AS c2 FROM ${p}pairs GROUP BY 1, 2),
      |${p}ctx AS (SELECT w1, sum(c2) AS c1 FROM ${p}big GROUP BY 1),
      |${p}v AS (SELECT count(DISTINCT t) AS v
      |      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents
      |            WHERE (${idPred("doc_id")}))),
      |${p}scored AS (
      |  SELECT pr.doc_id,
      |    CAST(round(ln((CAST(COALESCE(b.c2, 0) AS DOUBLE) + 1.0) /
      |                  (CAST(COALESCE(c.c1, 0) AS DOUBLE) + CAST(v.v AS DOUBLE)))
      |               * 1000) AS BIGINT) AS lp_fp
      |  FROM ${p}pairs pr LEFT JOIN ${p}big b ON b.w1 = pr.w1 AND b.w2 = pr.w2
      |  LEFT JOIN ${p}ctx c ON c.w1 = pr.w1 CROSS JOIN ${p}v v
      |), ${p}per AS (
      |  SELECT doc_id, count(*) AS n_pairs, sum(lp_fp) AS sum_lp_fp
      |  FROM ${p}scored GROUP BY 1
      |), ${p}lm AS (
      |  SELECT d.doc_id, CAST(COALESCE(per.n_pairs, 0) AS BIGINT) AS n_pairs,
      |    CAST(COALESCE(per.sum_lp_fp, 0) AS BIGINT) AS sum_lp_fp,
      |    CASE WHEN per.n_pairs > 0 THEN CAST(per.sum_lp_fp AS DOUBLE) /
      |      (CAST(per.n_pairs AS DOUBLE) * 1000.0) END AS avg_lp
      |  FROM documents d LEFT JOIN ${p}per per ON per.doc_id = d.doc_id
      |  WHERE (${idPred("d.doc_id")})
      |)""".stripMargin



  // shared CTE chain for the Naive Bayes family (text_nb_classify and
  // stream_nb_maintain pin the SAME classification — the streamed
  // state's additivity means both must match one batch train): hashed
  // uni+bigram occurrences ('nb|' salt, 1024 buckets) → per-(label,
  // bucket) counts + per-label doc counts → dense add-one-smoothed
  // fixed-point model + priors → per-doc fixed-point scores → argmax
  // with (score desc, label asc) tie-break
  lazy val nbCte: String = nbCteFor("TRUE")

  /** Corpus.splitAssign's hash bucket as a SQL expression over a given
    * doc-id column — the identical md5 family corpus_split_assign's
    * oracle uses, factored so the classifier-eval oracle cannot drift
    * from the split oracle.
    */
  def splitBucketSql(idExpr: String): String =
    s"CAST(CAST('0x' || substr(md5('split|' || CAST($idExpr AS VARCHAR)), " +
      s"1, 8) AS BIGINT) % 100 AS INTEGER)"

  /** The same chain with the TRAINING COHORT restricted by a SQL
    * predicate over (doc_id, lang) — text_nb_eval_holdout trains on
    * the hash-split train cohort only and scores the held-out docs,
    * the leakage-free evaluation discipline. `trainPred` must be a
    * boolean SQL fragment valid over both `documents` and the per-
    * occurrence `hashed` stream (both carry doc_id and lang).
    */
  def nbCteFor(trainPred: String): String =
    "WITH " + nbChain(trainPred, "")

  /** The NB chain's CTE definitions without the leading `WITH`,
    * prefix-composable like [[lmPerDocChain]]; `p = ""` is the
    * standalone form.
    */
  def nbChain(trainPred: String, p: String): String =
    s"""${p}tk AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
      |${p}feats AS (
      |  SELECT doc_id, lang, unnest(l) AS f FROM ${p}tk
      |  UNION ALL
      |  SELECT doc_id, lang,
      |    unnest(list_transform(generate_series(1, len(l)-1),
      |                          i -> l[i] || ' ' || l[i+1])) AS f
      |  FROM ${p}tk WHERE len(l) >= 2
      |), ${p}hashed AS (
      |  SELECT doc_id, lang,
      |    CAST(CAST('0x' || substr(md5('nb|' || f), 1, 8) AS BIGINT)
      |         % 1024 AS INTEGER) AS bucket
      |  FROM ${p}feats
      |), ${p}docfeat AS (
      |  SELECT doc_id, bucket, count(*) AS n FROM ${p}hashed GROUP BY 1, 2
      |), ${p}cls AS (
      |  SELECT lang AS label, count(*) AS n_docs
      |  FROM documents WHERE lang IS NOT NULL AND ($trainPred) GROUP BY 1
      |), ${p}tot AS (SELECT sum(n_docs) AS n FROM ${p}cls),
      |${p}fc AS (
      |  SELECT lang AS label, bucket, count(*) AS c
      |  FROM ${p}hashed WHERE lang IS NOT NULL AND ($trainPred) GROUP BY 1, 2
      |), ${p}ft AS (SELECT label, sum(c) AS tot FROM ${p}fc GROUP BY 1),
      |${p}dense AS (
      |  SELECT cls.label, CAST(b.bucket AS INTEGER) AS bucket,
      |    CAST(round(ln((CAST(COALESCE(fc.c, 0) AS DOUBLE) + 1.0) /
      |                  (CAST(ft.tot AS DOUBLE) + 1024.0)) * 1000)
      |         AS BIGINT) AS lp_fp
      |  FROM ${p}cls cls
      |  CROSS JOIN (SELECT unnest(generate_series(0, 1023)) AS bucket) b
      |  JOIN ${p}ft ft ON ft.label = cls.label
      |  LEFT JOIN ${p}fc fc ON fc.label = cls.label AND fc.bucket = b.bucket
      |), ${p}prior AS (
      |  SELECT label,
      |    CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(tot.n AS DOUBLE))
      |               * 1000) AS BIGINT) AS lp_fp
      |  FROM ${p}cls cls CROSS JOIN ${p}tot tot
      |), ${p}scored AS (
      |  SELECT df.doc_id, m.label,
      |    CAST(sum(df.n) AS BIGINT) AS n_feats,
      |    CAST(sum(df.n * m.lp_fp) AS BIGINT) AS s
      |  FROM ${p}docfeat df JOIN ${p}dense m ON m.bucket = df.bucket
      |  GROUP BY 1, 2
      |), ${p}fin AS (
      |  SELECT s.doc_id, s.label, s.n_feats,
      |    CAST(s.s + pri.lp_fp AS BIGINT) AS score_fp,
      |    row_number() OVER (PARTITION BY s.doc_id
      |                       ORDER BY s.s + pri.lp_fp DESC, s.label ASC) AS rn
      |  FROM ${p}scored s JOIN ${p}prior pri ON pri.label = s.label
      |)""".stripMargin

  /** The NB classification SELECT both the batch and the streamed
    * oracle share verbatim.
    */
  lazy val nbClassifySql: String =
    nbCte + """
      |SELECT d.doc_id, d.lang, f.label AS pred_label, f.n_feats, f.score_fp
      |FROM documents d JOIN fin f ON f.doc_id = d.doc_id AND f.rn = 1
      |ORDER BY d.doc_id""".stripMargin

  // shared CTE chain for the corpus_importance_* family: hashed uni+bi
  // gram feature stream (the pipeline's md5 hash discipline, 'dsir' salt,
  // 4096 buckets) → smoothed target/raw distributions → fixed-point
  // log-ratio table → per-doc rollup
  lazy val dsirWeightsCte: String = dsirWeightsCteFor(_ => "TRUE")

  /** The same chain restricted to a doc cohort (distributions AND
    * weighting) — the forget oracle estimates from and weights the
    * survivors only.
    */
  def dsirWeightsCteFor(idPred: String => String): String =
    s"""WITH tk AS (SELECT doc_id, lang, source, string_split(text, ' ') AS l
      |            FROM documents WHERE (${idPred("doc_id")})),
      |feats AS (
      |  SELECT doc_id, lang, source, unnest(l) AS f FROM tk
      |  UNION ALL
      |  SELECT doc_id, lang, source,
      |    unnest(list_transform(generate_series(1, len(l)-1),
      |                          i -> l[i] || ' ' || l[i+1])) AS f
      |  FROM tk WHERE len(l) >= 2
      |), hashed AS (
      |  SELECT doc_id, lang, source,
      |    CAST(CAST('0x' || substr(md5('dsir|' || f), 1, 8) AS BIGINT)
      |         % 4096 AS INTEGER) AS bucket
      |  FROM feats
      |), t AS (SELECT bucket, count(*) AS ct FROM hashed
      |         WHERE lang = 'en' AND source = 'src7' GROUP BY 1),
      |r AS (SELECT bucket, count(*) AS cr FROM hashed GROUP BY 1),
      |nt AS (SELECT COALESCE(sum(ct), 0) AS nt FROM t),
      |nr AS (SELECT COALESCE(sum(cr), 0) AS nr FROM r),
      |lr AS (
      |  SELECT b.bucket,
      |    CAST(round((ln((CAST(COALESCE(t.ct, 0) AS DOUBLE) + 1.0) /
      |                   (CAST(nt.nt AS DOUBLE) + 4096.0)) -
      |                ln((CAST(COALESCE(r.cr, 0) AS DOUBLE) + 1.0) /
      |                   (CAST(nr.nr AS DOUBLE) + 4096.0))) * 1000)
      |         AS BIGINT) AS lr_fp
      |  FROM (SELECT unnest(generate_series(0, 4095)) AS bucket) b
      |  LEFT JOIN t ON t.bucket = b.bucket LEFT JOIN r ON r.bucket = b.bucket
      |  CROSS JOIN nt CROSS JOIN nr
      |), per AS (
      |  SELECT h.doc_id, count(*) AS n_feats, sum(lr.lr_fp) AS sum_w_fp
      |  FROM hashed h JOIN lr ON lr.bucket = h.bucket GROUP BY 1
      |), w AS (
      |  SELECT d.doc_id, CAST(COALESCE(per.n_feats, 0) AS BIGINT) AS n_feats,
      |    CAST(COALESCE(per.sum_w_fp, 0) AS BIGINT) AS sum_w_fp,
      |    CASE WHEN per.n_feats > 0 THEN CAST(per.sum_w_fp AS DOUBLE) /
      |      (CAST(per.n_feats AS DOUBLE) * 1000.0) END AS avg_w
      |  FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
      |  WHERE (${idPred("d.doc_id")})
      |)""".stripMargin


}
