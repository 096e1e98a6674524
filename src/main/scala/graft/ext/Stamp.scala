package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Geometry stamping for the hashed-bucket MODEL states — NB
  * class-conditional counts, DSIR importance counts, and the tables
  * derived from them — the sketch family's requireStamp discipline
  * ([[Sketches]], the vector index's layout stamp, the dedup band
  * state's `(w, num_hashes, band_width)` columns) applied to the
  * model-based-selection tier. A count state read back under a
  * different `buckets` than it was built with is the family's worst
  * failure mode: rows with `bucket >= buckets` silently fall off the
  * dense grid while still inflating the smoothing totals, and every
  * classify/weight pass hashes features into the wrong space — all
  * SILENT skew. So the builders stamp their geometry as a constant
  * column (RLE-compresses to nothing in parquet), merges/subtractions
  * validate agreement and re-stamp, and every derivation that takes
  * `buckets` as a parameter cross-validates it against the stamp
  * before computing. Un-stamped (hand-assembled) frames skip the
  * probe, like the sketches' in-flight frames.
  */
private[graft] object Stamp {

  /** The stamped value, probed from one row (a parquet footer read on
    * persisted state); None when the frame is unstamped. An EMPTY
    * stamped frame also reads None — merging/deriving from an empty
    * state is correct under any geometry and yields no rows.
    */
  def get(df: DataFrame, name: String): Option[Int] =
    if (!df.columns.contains(name)) None
    else df.select(col(name)).limit(1).collect().headOption.map(_.getInt(0))

  /** Fail loudly when a stamped frame's geometry differs from the
    * parameter the caller passed. Unstamped frames pass trivially.
    */
  def requireMatch(df: DataFrame, what: String, name: String,
                   expected: Int): Unit =
    requireValue(get(df, name), what, name, expected)

  /** [[requireMatch]] over a stamp the caller already read (e.g. with
    * the rows it collects anyway).
    */
  def requireValue(stamp: Option[Int], what: String, name: String,
                   expected: Int): Unit =
    stamp.foreach(v => require(v == expected,
      s"$what geometry mismatch: state stamped with $name=$v but the " +
        s"operation was called with $name=$expected — hashed features " +
        "would land in the wrong bucket space, silently skewing every " +
        "derived score"))

  /** All stamped inputs of one combine must agree; returns the common
    * stamp (None when no input is stamped) so the caller can re-stamp
    * its output.
    */
  def agreeing(parts: Seq[DataFrame], what: String,
               name: String): Option[Int] = {
    val vs = parts.flatMap(get(_, name))
    require(vs.distinct.size <= 1,
      s"$what: inputs stamped with different $name geometries " +
        vs.distinct.mkString(" vs ") + " — counts built in different " +
        "bucket spaces cannot be combined")
    vs.headOption
  }

  /** Re-attach a combine's common stamp to its output (no-op when the
    * inputs were unstamped).
    */
  def restamp(df: DataFrame, name: String, v: Option[Int]): DataFrame =
    v.fold(df)(x => df.withColumn(name, lit(x)))
}
