package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels shared by interpreted eval and generated code. */
object KeyFunctions {

  /** Exact reference surrogate-key semantics (F1, /root/reference
    * include/sql/silver/silver_load.sql:48):
    * `('x' || substr(md5(s), 1, 16))::bit(64)::bigint` — the first 16 hex
    * chars of the md5 are the first 8 digest bytes, reinterpreted as a
    * SIGNED big-endian 64-bit value. Spark's `conv(...,16,10)` cannot
    * express this (it saturates unsigned); this one-liner can.
    */
  // MessageDigest instances are reusable (digest() implies reset()) but not
  // thread-safe; provider lookup per row is measurable on a key column, so
  // each executor thread keeps one.
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def signedMd5Long(s: UTF8String): Long = {
    val dig = md5.get().digest(s.getBytes)
    java.nio.ByteBuffer.wrap(dig, 0, 8).getLong
  }

  /** First 4 md5 digest bytes as an unsigned 32-bit value in a long —
    * bit-identical to `conv(substring(md5(s), 1, 8), 16, 10)::bigint`
    * (the engine-portable 32-bit hash family used by the Bloom/KMV/CMS
    * sketches, the hashed-feature buckets and every salted-hash
    * sampler), without materializing the 32-char hex string and
    * base-16-parsing a substring of it per row.
    */
  def md5First32(s: UTF8String): Long = {
    val dig = md5.get().digest(s.getBytes)
    ((dig(0) & 0xFFL) << 24) | ((dig(1) & 0xFFL) << 16) |
      ((dig(2) & 0xFFL) << 8) | (dig(3) & 0xFFL)
  }

  private def chunk32(d: Array[Byte], i: Int): Long =
    ((d(4 * i) & 0xFFL) << 24) | ((d(4 * i + 1) & 0xFFL) << 16) |
      ((d(4 * i + 2) & 0xFFL) << 8) | (d(4 * i + 3) & 0xFFL)

  /** The eight 32-bit minhash hash values of one shingle: the four
    * big-endian 32-bit chunks of md5("0|" ++ s) followed by the four of
    * md5("1|" ++ s) — bit-identical to the
    * `conv(substring(concat(md5(concat('0|', s)), md5(concat('1|', s))),
    * 8·k+1, 8), 16, 10)` family ([[graft.ext.Dedup]]'s minhash kernel),
    * with two digest calls and zero hex-string round-trips per shingle.
    */
  def md5MinhashChunks(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val d = md5.get()
    val b = s.getBytes
    d.update('0'.toByte); d.update('|'.toByte); d.update(b)
    val d0 = d.digest()
    d.update('1'.toByte); d.update('|'.toByte); d.update(b)
    val d1 = d.digest()
    val out = new Array[Long](8)
    var i = 0
    while (i < 4) { out(i) = chunk32(d0, i); out(i + 4) = chunk32(d1, i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Distinct w-token shingles of a single-space-delimited text, in
    * first-occurrence order — bit-identical to
    * `array_distinct(transform(sequence(0, size(t)-w),
    * i -> array_join(slice(t, i+1, w), ' ')))` over
    * `t = split(text, ' ', -1)` with the size(t) >= w guard (fewer than
    * w tokens → empty array), as one JVM sliding window instead of an
    * interpreted per-element lambda chain.
    */
  def shingleArray(s: UTF8String, w: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    // limit -1 keeps trailing empty tokens — split()/string_split parity,
    // the Dedup.shingles convention
    val t = s.toString.split(" ", -1)
    if (t.length < w)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + w <= t.length) {
        val sb = new java.lang.StringBuilder(t(i))
        var j = 1
        while (j < w) { sb.append(' ').append(t(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  /** Double-precision dot product over two float/double arrays (the
    * `aD`/`bD` flags select each side's element width — constants folded
    * by the JIT), index-ordered — bit-compatible with DuckDB's
    * list_sum(list_transform(...)) and the zip_with/aggregate
    * formulation. The hyperplane-signature kernel; the double side
    * appears when scoring against k-means-refined centroids, whose
    * exact fixed-point means are doubles.
    */
  def dotData(a: ArrayData, b: ArrayData, aD: Boolean, bD: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) {
      dot += (if (aD) a.getDouble(i) else a.getFloat(i).toDouble) *
        (if (bD) b.getDouble(i) else b.getFloat(i).toDouble)
      i += 1
    }
    dot
  }

  /** Double-precision cosine over two float/double arrays, index-ordered
    * accumulation (bit-compatible with the zip_with/aggregate formulation
    * in [[graft.ext.Similarity.cosine]]).
    */
  def cosineData(a: ArrayData, b: ArrayData, aD: Boolean, bD: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = if (aD) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bD) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Native Catalyst expression for the reference's signed md5 key (F1).
  * Codegen'd (no UDF serialization, no row boxing) — stays inside
  * WholeStageCodegen spans.
  */
case class SignedMd5Long(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    KeyFunctions.signedMd5Long(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.KeyFunctions$$.MODULE$$.signedMd5Long($c)")
  override protected def withNewChildInternal(newChild: Expression): SignedMd5Long =
    copy(child = newChild)
}

/** Native 32-bit md5 hash (first 4 digest bytes, unsigned) — the
  * codegen'd form of the portable hash family
  * `conv(substring(md5(s), 1, 8), 16, 10)::bigint`. Same value, no
  * hex-string materialization, no base-16 substring parse.
  */
case class Md5First32(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"md5_first32 expects a string column, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any =
    KeyFunctions.md5First32(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.KeyFunctions$$.MODULE$$.md5First32($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5First32 =
    copy(child = newChild)
}

/** Native minhash chunk vector: the eight 32-bit hash values of one
  * shingle (two salted md5 digests, four big-endian chunks each) as
  * array<bigint> — the [[graft.ext.Dedup]] signature kernel without the
  * 64-char hex concat and eight substring+conv parses per shingle.
  */
case class Md5MinhashChunks(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"md5_minhash_chunks expects a string column, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any =
    KeyFunctions.md5MinhashChunks(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.KeyFunctions$$.MODULE$$.md5MinhashChunks($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5MinhashChunks =
    copy(child = newChild)
}

/** Native distinct w-shingle array of a text column — the contamination
  * probe's shingle projection as one JVM sliding window (bit-identical
  * to the array_distinct(transform(sequence, slice, array_join)) chain,
  * which Catalyst evaluates as interpreted per-element lambdas).
  */
case class ShingleArray(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1, "shingle width must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingle_array expects a string column, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any =
    KeyFunctions.shingleArray(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.KeyFunctions$$.MODULE$$.shingleArray($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): ShingleArray =
    copy(child = newChild)
}

/** Shared element-width dispatch for the vector kernels: each side may
  * be array<float> (raw embeddings) or array<double> (refined
  * centroids, exact fixed-point means). Resolved once at planning time
  * and baked into the generated code as literal booleans.
  */
trait VectorKernelExpression { self: BinaryExpression =>
  protected def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case t => throw new IllegalArgumentException(
      s"${self.prettyName} expects array<float>/array<double>, got $t")
  }
  protected def aD: Boolean = elemIsDouble(self.left)
  protected def bD: Boolean = elemIsDouble(self.right)
}

/** Native cosine similarity over array<float>/array<double> columns: a
  * single fused loop over primitive arrays — no intermediate product
  * array, unlike the zip_with+aggregate formulation. Identical IEEE
  * result (each accumulator sums in index order).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with VectorKernelExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    KeyFunctions.cosineData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], aD, bD)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.KeyFunctions$$.MODULE$$.cosineData($a, $b, $aD, $bD)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** Native dot product over array<float>/array<double> columns — one
  * fused primitive loop, codegen'd. The LSH hyperplane-signature kernel:
  * 16 of these per row as interpreted array lambdas dominated the
  * banded-dedup profile.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with VectorKernelExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    KeyFunctions.dotData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], aD, bD)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.KeyFunctions$$.MODULE$$.dotData($a, $b, $aD, $bD)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Column-level entry points (Spark 4: Column↔Expression bridging lives
  * in org.apache.spark.sql.classic.ExpressionUtils).
  */
object KeyColumns {
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
  def signed_md5_long(c: Column): Column = column(SignedMd5Long(expression(c)))
  def cosine_native(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
  def dot_native(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))
  def md5_first32(c: Column): Column = column(Md5First32(expression(c)))
  def md5_minhash_chunks(c: Column): Column =
    column(Md5MinhashChunks(expression(c)))
  def shingle_array(c: Column, w: Int): Column =
    column(ShingleArray(expression(c), w))

  /** Register all three for SQL callers (`SELECT signed_md5_long(x) ...`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "signed_md5_long", exprs => SignedMd5Long(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_native", exprs => CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_native", exprs => DotProduct(exprs(0), exprs(1)), "scala_udf")
  }
}

/** SparkSessionExtensions entry point so the expressions are available in
  * every session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`), including pure-SQL users.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("signed_md5_long"),
      new ExpressionInfo(classOf[SignedMd5Long].getName, "signed_md5_long"),
      (exprs: Seq[Expression]) => SignedMd5Long(exprs.head)))
    ext.injectFunction((FunctionIdentifier("cosine_native"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_native"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("dot_native"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_native"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
  }
}
