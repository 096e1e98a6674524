package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: build an R×-replicated copy of a testdata scale dir, for the
  * scale-ladder measurement (the sf ladder driver data stops at sf0.1;
  * superlinear-candidate families need one measured point beyond it).
  *
  * Replication must preserve WORKLOAD SHAPE, not just row count — naive
  * row duplication would be wrong two ways:
  *  - replicated documents are exact near-dups of each other, so pair-
  *    producing families (minhash, contamination, clusters) would grow
  *    O(R²) pairs by construction, poisoning the exponent measurement;
  *  - replicated embeddings are identical vectors, same problem for the
  *    cosine/LSH families.
  * So each replica r > 0 gets: every document token suffixed with `~r`
  * (shingle vocabulary grows R×, per-replica dup structure identical,
  * zero cross-replica shingle collisions), and every embedding ROTATED
  * by r positions (expected cosine ≈ 0 against other replicas of the
  * same random vector, norms and marginals preserved). Keys are offset
  * by r·10⁹ per replica; low-cardinality dims (source, lang, label,
  * event_type, ts) keep their domains — at a real 5× scale-up groups get
  * deeper, not wider, which is exactly the shape that stresses shuffles.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <outDir> <R> [emb-only]
  *
  * `emb-only` (round 15): replicate ONLY the embeddings table R×,
  * copying every other table at 1× — the vector-count rung for the
  * ANN maintenance family, whose sf-ladder exponents are masked by
  * the bounded quantizer-retrain floor when documents scale with the
  * vectors. Vectors ×R with documents fixed isolates the scan term.
  */
object ScaleUp {
  private val Offset = 1000000000L

  private def replicate(spark: SparkSession, r: Int)(build: Int => DataFrame): DataFrame =
    (0 until r).map(build).reduce(_.unionByName(_))

  /** Write as ONE parquet FILE named `$out/$name.parquet` — the driver
    * testdata layout (a plain file, not a directory), which the stream
    * staging symlink and single-row-group spread() probes rely on.
    */
  private def writeSingleFile(df: DataFrame, out: String, name: String): Unit = {
    val spark = df.sparkSession
    val tmp = s"$out/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    val target = new org.apache.hadoop.fs.Path(s"$out/$name.parquet")
    if (fs.exists(target)) fs.delete(target, true)
    fs.rename(part, target)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val r = args(2).toInt
    val embOnly = args.length > 3 && args(3) == "emb-only"
    require(r >= 1 && r <= 100)
    // in emb-only mode every non-embeddings table replicates at 1×
    def rOf(table: String): Int =
      if (embOnly && table != "embeddings") 1 else r
    val spark = graft.Session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"),
      confs = Seq("spark.sql.shuffle.partitions" -> "32"))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    replicate(spark, rOf("documents")) { i =>
      if (i == 0) docs
      else docs.select(
        (col("doc_id") + lit(i * Offset)).as("doc_id"),
        // suffix EVERY token: per-replica shingle spaces are disjoint,
        // so near-dup pairs scale R×, never R².
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$i"))), " ").as("text"),
        col("lang"), col("source"),
        length(array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$i"))), " ")).cast("long").as("n_chars"))
    } match { case df => writeSingleFile(df, out, "documents") }

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    replicate(spark, rOf("embeddings")) { i =>
      if (i == 0) emb
      else {
        // rotate: same norm/marginals, ~orthogonal to other replicas.
        // rot wraps at dim (replica dim would repeat replica 0's vectors
        // exactly, reintroducing the cross-replica duplicates this tool
        // exists to avoid), so each wrap also flips the sign — distinct
        // transforms for r up to 2*dim, enforced below.
        require(i < 2 * dim,
          s"replica $i: rotation+flip transforms are distinct only for r <= ${2 * dim}")
        val rot = i % dim
        val rotated = concat(slice(col("embedding"), rot + 1, dim - rot),
          slice(col("embedding"), 1, rot))
        val flipped = if ((i / dim) % 2 == 1)
          transform(rotated, x => -x) else rotated
        emb.select(
          (col("vec_id") + lit(i * Offset)).as("vec_id"),
          flipped.as("embedding"),
          col("label"))
      }
    } match { case df => writeSingleFile(df, out, "embeddings") }

    val ev = spark.read.parquet(s"$src/events.parquet")
    replicate(spark, rOf("events")) { i =>
      if (i == 0) ev
      else ev.select(
        (col("event_id") + lit(i * Offset)).as("event_id"), col("ts"),
        (col("user_id") + lit(i * Offset)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    } match { case df => writeSingleFile(df, out, "events") }

    // relational tables: replicate with consistent FK offsets so the
    // star-join families can ladder too. region/nation are fixed domains.
    for (t <- Seq("region", "nation"))
      writeSingleFile(spark.read.parquet(s"$src/$t.parquet"), out, t)
    def off(c: String, i: Int) = (col(c) + lit(i * Offset)).as(c)
    val cust = spark.read.parquet(s"$src/customer.parquet")
    replicate(spark, rOf("customer")) { i =>
      if (i == 0) cust else cust.withColumn("c_custkey", off("c_custkey", i))
    } match { case df => writeSingleFile(df, out, "customer") }
    val supp = spark.read.parquet(s"$src/supplier.parquet")
    replicate(spark, rOf("supplier")) { i =>
      if (i == 0) supp else supp.withColumn("s_suppkey", off("s_suppkey", i))
    } match { case df => writeSingleFile(df, out, "supplier") }
    val part = spark.read.parquet(s"$src/part.parquet")
    replicate(spark, rOf("part")) { i =>
      if (i == 0) part else part.withColumn("p_partkey", off("p_partkey", i))
    } match { case df => writeSingleFile(df, out, "part") }
    val ord = spark.read.parquet(s"$src/orders.parquet")
    replicate(spark, rOf("orders")) { i =>
      if (i == 0) ord
      else ord.withColumn("o_orderkey", off("o_orderkey", i))
        .withColumn("o_custkey", off("o_custkey", i))
    } match { case df => writeSingleFile(df, out, "orders") }
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    replicate(spark, rOf("lineitem")) { i =>
      if (i == 0) li
      else li.withColumn("l_orderkey", off("l_orderkey", i))
        .withColumn("l_partkey", off("l_partkey", i))
        .withColumn("l_suppkey", off("l_suppkey", i))
    } match { case df => writeSingleFile(df, out, "lineitem") }

    println(s"scaled $src x$r${if (embOnly) " (embeddings only)" else ""} -> $out")
    spark.stop()
  }
}
