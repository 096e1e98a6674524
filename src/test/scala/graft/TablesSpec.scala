package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Testdata-schema smoke guard (round-10 hardening, VERDICT r9 item 2):
  * the driver regenerates /root/testdata between rounds and has already
  * shipped `events.ts` under multiple physical encodings — a loader
  * pinned to one encoding silently amputated 43 queries in round 9.
  * This spec loads every table through the SAME loaders the query
  * surface uses and fails with a NAMED diagnosis (table + column +
  * type) rather than letting an analysis error surface 40 queries
  * downstream.
  */
class TablesSpec extends AnyFunSuite {
  import SparkTestBase.{sfDir, spark, tmpDir}

  /** What the query surface actually RELIES on, not exact widths: join
    * keys must stay integral (int vs bigint both join/arithmetic fine),
    * date columns must stay date-castable time types, measures numeric.
    * Pinning exact widths would turn harmless drift into red tests; the
    * point is to name the table+column+type the moment a load-bearing
    * class changes.
    */
  private sealed trait Shape { def ok(dt: DataType): Boolean; def name: String }
  private case object Integral extends Shape {
    def ok(dt: DataType): Boolean =
      dt == LongType || dt == IntegerType || dt == ShortType
    val name = "integral"
  }
  private case object DateLike extends Shape {
    def ok(dt: DataType): Boolean =
      dt == DateType || dt == TimestampType || dt == TimestampNTZType
    val name = "date-like"
  }
  private case object Numeric extends Shape {
    def ok(dt: DataType): Boolean = dt.isInstanceOf[NumericType]
    val name = "numeric"
  }
  private case object Text extends Shape {
    def ok(dt: DataType): Boolean = dt == StringType
    val name = "string"
  }

  private val expected: Map[String, Map[String, Shape]] = Map(
    "region"   -> Map("r_regionkey" -> Integral, "r_name" -> Text),
    "nation"   -> Map("n_nationkey" -> Integral, "n_regionkey" -> Integral),
    "customer" -> Map("c_custkey" -> Integral, "c_nationkey" -> Integral),
    "supplier" -> Map("s_suppkey" -> Integral, "s_nationkey" -> Integral),
    "part"     -> Map("p_partkey" -> Integral),
    "orders"   -> Map("o_orderkey" -> Integral, "o_custkey" -> Integral,
                      "o_orderdate" -> DateLike),
    "lineitem" -> Map("l_orderkey" -> Integral, "l_partkey" -> Integral,
                      "l_quantity" -> Numeric, "l_shipdate" -> DateLike)
  )

  private def describe(name: String, schema: StructType): String =
    s"$name schema: " + schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")

  for ((table, cols) <- expected) {
    test(s"$table loads with stable key-column types") {
      val df = Tables.load(spark, sfDir, table)
      for ((c, shape) <- cols) {
        assert(df.schema.fieldNames.contains(c),
          s"testdata drift: $table lost column $c — ${describe(table, df.schema)}")
        assert(shape.ok(df.schema(c).dataType),
          s"testdata drift: $table.$c is ${df.schema(c).dataType.simpleString}, " +
            s"loader surface expects a ${shape.name} type — ${describe(table, df.schema)}")
      }
    }
  }

  test("events normalizes ts to TimestampType under EVERY known physical encoding") {
    // the adaptive loader's contract: whatever the file ships, the query
    // surface sees session-zoned TimestampType at micro precision.
    val ev = Tables.events(spark, sfDir)
    assert(ev.schema("ts").dataType == TimestampType,
      s"testdata drift: events.ts normalized to ${ev.schema("ts").dataType.simpleString}, " +
        "not TimestampType — teach Tables.normalizeTs the new encoding")
    val raw = Tables.eventsRaw(spark, sfDir)
    assert(raw.schema("ts").dataType == TimestampType)
    // values are real instants, not epoch garbage: the feed is ~2024-era
    val bounds = ev.agg(
      org.apache.spark.sql.functions.min("ts"),
      org.apache.spark.sql.functions.max("ts")).head()
    val lo = bounds.getTimestamp(0).toInstant
    val hi = bounds.getTimestamp(1).toInstant
    assert(lo.isAfter(java.time.Instant.parse("2000-01-01T00:00:00Z")) &&
      hi.isBefore(java.time.Instant.parse("2100-01-01T00:00:00Z")),
      s"testdata drift: events.ts range [$lo, $hi] is not a plausible instant range — " +
        "the ts normalization branch chosen for this encoding is wrong")
  }

  test("events ts normalization agrees between batch loader and nanos-feed helper") {
    // eventsFeedNanos (stream harnesses) and Tables.events (batch) must
    // describe the SAME instants or the stream oracles drift silently.
    import org.apache.spark.sql.functions._
    val batchMax = Tables.events(spark, sfDir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val raw = Tables.loadEvents(spark, sfDir)
    val nanosMax = raw.schema("ts").dataType match {
      case LongType => raw.agg(max(col("ts"))).head().getLong(0)
      case TimestampNTZType =>
        raw.agg(max(unix_micros(col("ts").cast(TimestampType)) * 1000L)).head().getLong(0)
      case TimestampType =>
        raw.agg(max(unix_micros(col("ts")) * 1000L)).head().getLong(0)
      case other => fail(s"unsupported events.ts type $other")
    }
    assert(nanosMax / 1000L == batchMax,
      s"nanos-feed max ($nanosMax ns) and batch max ($batchMax us) disagree")
  }

  test("documents and embeddings load with the extension-surface columns") {
    val docs = Tables.documents(spark, sfDir)
    for (c <- Seq("doc_id", "source", "text"))
      assert(docs.schema.fieldNames.contains(c),
        s"testdata drift: documents lost $c — ${describe("documents", docs.schema)}")
    val emb = Tables.embeddings(spark, sfDir)
    assert(emb.schema.fieldNames.contains("vec_id") &&
      emb.schema.fieldNames.contains("embedding"),
      s"testdata drift — ${describe("embeddings", emb.schema)}")
    assert(emb.schema("embedding").dataType.isInstanceOf[ArrayType],
      s"testdata drift: embeddings.embedding is " +
        s"${emb.schema("embedding").dataType.simpleString}, expected array")
  }

  // ---- conform: the round-9 ts drift, generalized to every table
  // (VERDICT r10 item 2). Each test WRITES a synthetically re-encoded
  // fixture and loads it through the same Tables.load the surface uses.

  private def reencode(table: String)(recast: org.apache.spark.sql.DataFrame
      => org.apache.spark.sql.DataFrame): String = {
    val dir = tmpDir("graft-drift-").toString
    recast(spark.read.parquet(s"$sfDir/$table.parquet"))
      .coalesce(1).write.parquet(s"$dir/$table.parquet")
    dir
  }

  test("conform is the identity on the current testdata encodings") {
    for (t <- Seq("documents", "embeddings", "lineitem", "orders", "nation")) {
      val raw = spark.read.parquet(s"$sfDir/$t.parquet")
      assert(Tables.load(spark, sfDir, t).schema === raw.schema,
        s"conform rewrote $t although the file already matches the declared types")
    }
  }

  test("documents: narrowed integral keys conform back to declared widths") {
    import org.apache.spark.sql.functions.col
    val dir = reencode("documents")(df => df
      .withColumn("doc_id", col("doc_id").cast(IntegerType))
      .withColumn("n_chars", col("n_chars").cast(IntegerType)))
    val got = Tables.load(spark, dir, "documents")
    assert(got.schema("doc_id").dataType === LongType)
    assert(got.schema("n_chars").dataType === LongType)
    val orig = Tables.load(spark, sfDir, "documents")
    assert(got.exceptAll(orig).count() === 0 && orig.exceptAll(got).count() === 0,
      "re-encoded documents must conform to value-identical rows")
  }

  test("embeddings: array<double> + resized keys conform to the declared schema") {
    import org.apache.spark.sql.functions.col
    val dir = reencode("embeddings")(df => df
      .withColumn("embedding", col("embedding").cast(ArrayType(DoubleType)))
      .withColumn("vec_id", col("vec_id").cast(IntegerType))
      .withColumn("label", col("label").cast(LongType)))
    val got = Tables.load(spark, dir, "embeddings")
    assert(got.schema("embedding").dataType === ArrayType(FloatType, containsNull = true))
    assert(got.schema("vec_id").dataType === LongType)
    assert(got.schema("label").dataType === IntegerType)
    // float→double→float round-trips exactly (double holds every float)
    val orig = Tables.load(spark, sfDir, "embeddings")
    assert(got.exceptAll(orig).count() === 0 && orig.exceptAll(got).count() === 0,
      "re-encoded embeddings must conform to value-identical rows")
  }

  test("incompatible drift and dropped columns fail fast with a named diagnosis") {
    import org.apache.spark.sql.functions.col
    val badType = reencode("documents")(df =>
      df.withColumn("text", col("n_chars"))) // numeric where string declared
    val e = intercept[IllegalStateException](Tables.load(spark, badType, "documents"))
    assert(e.getMessage.contains("documents") && e.getMessage.contains("text"),
      s"diagnosis must name the table and column: ${e.getMessage}")
    val dropped = reencode("documents")(_.drop("lang"))
    val e2 = intercept[IllegalStateException](Tables.load(spark, dropped, "documents"))
    assert(e2.getMessage.contains("lang"), s"diagnosis must name the lost column: ${e2.getMessage}")
  }

  test("schema evolution: extra physical columns pass through conform") {
    import org.apache.spark.sql.functions.lit
    val dir = reencode("documents")(_.withColumn("extra_flag", lit(1)))
    val got = Tables.load(spark, dir, "documents")
    assert(got.schema.fieldNames.contains("extra_flag"),
      "conform must not hide columns a regeneration added")
    assert(got.schema("doc_id").dataType === LongType)
  }
}
