package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: opaque binary payloads + typed metadata structs.
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * deterministic stand-in ([[fakeDecode]]) — but the Spark-side plumbing
  * is the real pattern for binary media at scale:
  *  - media as `BinaryType` columns riding alongside a `StructType`
  *    metadata column (schema evolution stays in the struct);
  *  - decode/feature-extract via `mapPartitions` so any native decoder
  *    is initialized once per partition (the JVM analog of a Pandas UDF
  *    over mapInPandas: iterator-in/iterator-out, batch-shaped);
  *  - feature output as fixed-width typed columns, ready for the
  *    similarity operators in [[Similarity]].
  */
object Multimodal {

  /** Wrap text rows as (payload: binary, meta: struct) — the multimodal
    * column shape. With real media, `payload` is the image/audio bytes.
    */
  def asBinary(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(col("lang"), col("source"), col("n_chars")).as("meta"))

  /** Pure-projection payload statistics — stays in WholeStageCodegen. */
  def payloadStats(docs: DataFrame): DataFrame =
    asBinary(docs).select(
      col("doc_id"),
      octet_length(col("payload")).as("n_bytes"),
      col("meta.lang").as("lang"),
      col("meta.source").as("source"),
      col("meta.n_chars").as("n_chars"))

  /** Deterministic stand-in for a media decoder: the first two Unicode
    * code points of the decoded payload plus the byte length mod 256.
    * Code points (not raw UTF-8 bytes) so the features match the SQL
    * `ascii(substr(text, n, 1))` definition on any corpus, not just
    * ASCII. A real build replaces the body with an image/audio library
    * call; signature and batching stay the same.
    */
  def fakeDecode(payload: Array[Byte]): (Int, Int, Int) = {
    val s = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
    (if (s.length > 0) s.codePointAt(0) else 0,
      if (s.length > 1) s.codePointAt(s.offsetByCodePoints(0, 1)) else 0,
      payload.length % 256)
  }

  private val featureSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("f0", IntegerType, nullable = false),
    StructField("f1", IntegerType, nullable = false),
    StructField("f2", IntegerType, nullable = false)))

  /** Frame sampling over a binary "video" payload: treat the payload as
    * fixed-width frames and keep every `stride`-th one. The chunking and
    * batch shape are the real pattern; a codec would replace the
    * byte-slicing. Pure per-row projection — no shuffle.
    */
  def frameSample(docs: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    asBinary(docs).select(
      col("doc_id"),
      (octet_length(col("payload")) + frameBytes - 1)
        .divide(frameBytes).cast("int").as("n_frames"))
      .withColumn("n_sampled",
        ((col("n_frames") + stride - 1) / stride).cast("int"))

  /** Modality-bucketed FRAME-level near-dup — the multimodal JOIN/AGG
    * path (not a projection): payloads chunk into fixed-width frames
    * (the [[frameSample]] chunking), each frame fingerprints to
    * md5(bytes), and two documents OF THE SAME MODALITY sharing at
    * least `minShared` distinct fingerprints pair as near-dup
    * candidates — the video/image dedup a training pipeline runs where
    * text dedup runs MinHash (a re-encoded copy shares exact frames
    * even when container bytes differ; with real media the fingerprint
    * is a perceptual hash, same plumbing).
    *
    * Scale design: the pair search is an EQUI-join on (modality,
    * fingerprint) — never doc×doc — so candidates are bounded by
    * fingerprint collisions; the modality column BUCKETS the join
    * (image frames never compare against audio windows), and frames
    * appearing in more than `maxFrameFreq` documents (black frames,
    * silence, boilerplate intros) are excluded before the join —
    * the same boilerplate-cap lever as [[Corpus.contamination]]: one
    * such frame would otherwise emit cap² pair rows and its matches
    * are noise, not signal. Output: (modality, d1, d2, n_shared).
    */
  /** Deterministic modality assignment for the synthetic corpus — the
    * stand-in for the `meta.modality` tag real media rows carry.
    */
  def modalityOf(docId: Column): Column = element_at(
    array(lit("image"), lit("audio"), lit("video")),
    (pmod(docId, lit(3)) + 1).cast("int"))

  def frameDedup(docs: DataFrame, frameBytes: Int = 16, minShared: Int = 2,
                 maxFrameFreq: Long = 64): DataFrame = {
    require(frameBytes >= 1 && minShared >= 1 && maxFrameFreq >= 2)
    val modality = modalityOf(col("doc_id"))
    val fp = asBinary(docs)
      .filter(octet_length(col("payload")) > 0)
      .select(col("doc_id"), modality.as("modality"), col("payload"),
        explode(sequence(lit(0),
          floor((octet_length(col("payload")) - 1) / frameBytes).cast("int")))
          .as("fpos"))
      .select(col("doc_id"), col("modality"),
        md5(expr(s"substring(payload, fpos * $frameBytes + 1, $frameBytes)"))
          .as("fp"))
      .distinct()
    val keep = fp.join(
      fp.groupBy(col("modality"), col("fp"))
        .agg(count(lit(1)).as("nf"))
        .filter(col("nf") <= maxFrameFreq)
        .select(col("modality"), col("fp")),
      Seq("modality", "fp"), "left_semi")
    keep.select(col("modality"), col("fp"), col("doc_id").as("d1"))
      .join(keep.select(col("modality"), col("fp"), col("doc_id").as("d2")),
        Seq("modality", "fp"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("modality"), col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Modality-bucketed EMBEDDING search — the multimodal retrieval path:
    * media rows pair with their embedding vectors (the output of a
    * CLIP-style encoder; here the `embeddings` table keyed by doc_id),
    * and each query retrieves its top-k nearest neighbors WITHIN ITS
    * MODALITY — image queries never score against audio vectors, the
    * invariant every multimodal store enforces because cross-modality
    * cosine is meaningless unless the encoder was trained for it.
    *
    * Scale design: modality is the leading JOIN KEY, not a post-filter —
    * candidates meet only same-modality queries, cutting the scored
    * pairs to the bucket fraction, and the physical layout analog is
    * partitioning the vector table BY MODALITY (each bucket is then an
    * independent ANN problem for [[VectorIndex]]; this operator is the
    * exact/bruteforce form of that bucketed search). Queries broadcast
    * (query sets are small); the candidate side never shuffles.
    * Output: (modality, qid, rank, cid) — same rank contract as
    * [[Similarity.bruteForceTopK]] (sim desc, cid asc tie-break).
    */
  def modalityAnn(docs: DataFrame, emb: DataFrame, queries: DataFrame,
                  k: Int): DataFrame = {
    require(k >= 1)
    val paired = docs.select(col("doc_id"), modalityOf(col("doc_id")).as("modality"))
      .join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("modality"), col("embedding"))
    val c = paired.select(col("doc_id").as("cid"), col("modality"),
      col("embedding").as("ce"))
    val q = paired.join(queries, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("qid"), col("modality"),
        col("embedding").as("qe"))
    val scored = c.join(broadcast(q), Seq("modality"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim", Similarity.cosine(col("qe"), col("ce")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("modality"), col("qid"), col("rank"), col("cid"))
  }

  /** Decode/feature-extract over binary payloads. mapPartitions keeps
    * decoder initialization per-partition (NOT per-row) and processes an
    * iterator — the exact shape a native decoder or an inference batch
    * needs at scale.
    */
  def extractFeatures(spark: SparkSession, binDf: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    binDf.select(col("doc_id").cast("long"), col("payload"))
      .mapPartitions { it =>
        // decoder/codec init would happen HERE, once per partition.
        it.map { r =>
          val (f0, f1, f2) = fakeDecode(r.getAs[Array[Byte]]("payload"))
          Row(r.getLong(0), f0, f1, f2)
        }
      }(enc)
  }
}
