package graft.ext

import scala.collection.immutable.ListMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** The stamp discipline for every piece of persisted pipeline state —
  * dedup band and signature tables, the Count-Min / Bloom / KMV /
  * quantile sketches, histograms, NB and DSIR counts and the models
  * derived from them, BPE vocabs, the vector index and the bench
  * signatures. Each carries the geometry it was built under as
  * constant columns (they RLE-compress to nothing in parquet): the
  * band state's `(w, num_hashes, band_width)`, a sketch's `(depth,
  * width)` or `k`, a histogram's `bin_width`, a model's `buckets`, an
  * index's `(num_cells, m, num_codes, dim)`. State read back under a
  * different geometry is each family's worst failure mode — band keys
  * that never collide (every document silently admitted), Count-Min
  * buckets that never line up, hashed features in the wrong bucket
  * space, bins joined bin-for-bin to meaningless drift — so every
  * reader checks the stamp before it computes, here and only here:
  *
  *  - [[read]]: ONE job reads the stamp columns a frame carries (a
  *    parquet footer plus one row on persisted state);
  *  - [[require]]: read, then fail loudly when the stamp differs from
  *    the caller's parameters;
  *  - [[agreeing]]: all stamped inputs of a merge carry one stamp;
  *  - [[restamp]]: re-attach that stamp to the merge's output.
  *
  * A frame carrying none of the stamp columns (a hand-assembled or
  * in-flight frame) and an EMPTY stamped frame both pass: merging or
  * deriving from empty state is correct under any geometry. A frame
  * carrying only some of the columns is checked on those. State that
  * must be stamped (dedup state, index tables, `*Stated` readers)
  * refuses a frame without its stamp columns in its own input check,
  * in front of the call here. Readers that validate a frozen state
  * once and use it many times (a streaming pipeline) read the stamp
  * once at start — never per micro-batch.
  */
private[graft] object Stamp {

  /** A stamp as read: each carried stamp column in the order asked
    * for, with its value (a boxed Int, or Double for `bin_width`;
    * null when the row holds null).
    */
  type Values = ListMap[String, Any]

  /** The stamp columns among `cols` that `df` carries, read from one
    * row; None when it carries none of them or is empty.
    */
  def read(df: DataFrame, cols: Seq[String]): Option[Values] = {
    val carried = cols.filter(df.columns.contains)
    if (carried.isEmpty) None
    else df.select(carried.map(col): _*).limit(1).collect().headOption
      .map(r => ListMap(carried.zip(r.toSeq): _*))
  }

  /** Fail loudly when `df`'s stamp differs from the `expected`
    * `(column -> value)` pairs the caller computes with.
    */
  def require(df: DataFrame, what: String, expected: Seq[(String, Any)]): Unit =
    require(read(df, expected.map(_._1)), what, expected)

  /** [[require]] over a stamp the caller already read — with the rows
    * it collects anyway, or together with a stamp value it needs. Only
    * the columns the stamp carries are compared; a null value is a
    * mismatch.
    */
  def require(stamp: Option[Values], what: String,
              expected: Seq[(String, Any)]): Unit =
    stamp.foreach { s =>
      val checked = expected.filter { case (c, _) => s.contains(c) }
      Predef.require(checked.forall { case (c, v) => s(c) == v },
        s"$what layout mismatch: state stamped with " +
          show(checked.map { case (c, _) => c -> s(c) }) +
          s" but the operation was called with ${show(checked)} — results " +
          "computed under a different geometry would not correspond to the " +
          "state and would be silently wrong")
    }

  /** The Int a read stamp holds in `c`; a null fails loudly. */
  def int(s: Values, c: String): Int = s(c) match {
    case v: Int => v
    case v => throw new IllegalArgumentException(
      s"stamp column $c holds $v, not an Int — the state is corrupt")
  }

  /** All stamped inputs of one combine must carry the same stamp over
    * `cols`; returns it (None when no input is stamped) so the caller
    * can [[restamp]] its output.
    */
  def agreeing(parts: Seq[DataFrame], what: String,
               cols: Seq[String]): Option[Values] = {
    val vs = parts.flatMap(read(_, cols)).distinct
    Predef.require(vs.size <= 1,
      s"$what: inputs stamped with different layouts " +
        vs.map(s => show(s.toSeq)).mkString(" vs ") + " — state built " +
        "under different geometries cannot be combined")
    vs.headOption
  }

  /** Re-attach a combine's common stamp to its output (no-op when the
    * inputs were unstamped).
    */
  def restamp(df: DataFrame, stamp: Option[Values]): DataFrame =
    stamp.fold(df)(_.foldLeft(df) { case (d, (c, v)) => d.withColumn(c, lit(v)) })

  /** `(c1=v1, c2=v2)`, as every refusal prints a stamp. */
  private[ext] def show(vs: Seq[(String, Any)]): String =
    vs.map { case (c, v) => s"$c=$v" }.mkString("(", ", ", ")")
}
