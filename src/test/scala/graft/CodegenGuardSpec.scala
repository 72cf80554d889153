package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{FloatVecDot, MinHash9, MortonCode, SimHash63}

/** CI guard against silent codegen fallback (round-4 verdict #2).
  *
  * Spark's default `spark.sql.codegen.fallback=true` swallows a
  * CompileException from a broken `doGenCode` and quietly re-runs the
  * stage interpreted — results stay right, performance claims go wrong,
  * and nothing in `sbt test` turns red (exactly what happened to the
  * round-4 MODULE$ bug). Two layers of loud failure instead:
  *
  *  1. `GenerateUnsafeProjection.generate` compiles each custom
  *     expression's generated Java DIRECTLY — no fallback path exists
  *     there, so invalid codegen throws; the compiled projection's
  *     output is then pinned bit-for-bit against interpreted `eval`.
  *  2. An end-to-end near-dup query runs with
  *     `spark.sql.codegen.factoryMode=CODEGEN_ONLY` and
  *     `spark.sql.codegen.fallback=false`, so a fused-stage compile
  *     error anywhere in the consumer plans propagates.
  */
class CodegenGuardSpec extends SparkSpec {

  /** Compile via Janino (throws on invalid generated code), evaluate on
    * `row`, and return the projected value at ordinal 0. */
  private def codegenValue(expr: Expression, row: InternalRow,
                           get: (InternalRow) => Any): Any = {
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    get(proj(row))
  }

  private def strings(ws: String*): GenericArrayData =
    new GenericArrayData(ws.map(UTF8String.fromString).toArray[Any])

  test("MinHash9 generated Java compiles and matches interpreted eval") {
    val words = "the quick brown fox jumps over the lazy dog".split(" ")
    val in = BoundReference(0, ArrayType(StringType), nullable = true)
    val e = MinHash9(in)
    val row = InternalRow(strings(words.toIndexedSeq: _*))
    val gen = codegenValue(e, row,
      _.getArray(0).toArray[UTF8String](StringType).map(_.toString).toSeq)
    val interp = e.eval(row).asInstanceOf[GenericArrayData]
      .toArray[UTF8String](StringType).map(_.toString).toSeq
    assert(gen === interp)
    assert(interp.size === 9)
    // the null branch (< 3 words → no shingle) survives codegen too
    val short = InternalRow(strings("a", "b"))
    val projected = GenerateUnsafeProjection.generate(Seq(e))(short)
    assert(projected.isNullAt(0))
    assert(e.eval(short) === null)
  }

  test("SimHash63 generated Java compiles and matches interpreted eval") {
    val words = "one two three two one four five".split(" ")
    val in = BoundReference(0, ArrayType(StringType), nullable = true)
    val e = SimHash63(in)
    val row = InternalRow(strings(words.toIndexedSeq: _*))
    val gen = codegenValue(e, row, _.getLong(0))
    assert(gen === e.eval(row))
  }

  test("MortonCode generated Java compiles and matches interpreted eval") {
    val e = MortonCode(
      BoundReference(0, LongType, nullable = true),
      BoundReference(1, LongType, nullable = true))
    val row = InternalRow(41625L, 12374L)
    val gen = codegenValue(e, row, _.getLong(0))
    assert(gen === e.eval(row))
  }

  test("FloatVecDot generated Java compiles and matches interpreted eval") {
    val e = FloatVecDot(
      BoundReference(0, ArrayType(FloatType), nullable = true),
      BoundReference(1, ArrayType(FloatType), nullable = true))
    val row = InternalRow(
      new GenericArrayData(Array[Any](1.5f, -2.25f, 3.0f)),
      new GenericArrayData(Array[Any](0.5f, 4.0f, -1.0f)))
    val gen = codegenValue(e, row, _.getDouble(0))
    assert(gen === e.eval(row))
  }

  test("LongVecDot generated Java compiles and matches interpreted eval") {
    val e = graft.functions.LongVecDot(
      BoundReference(0, ArrayType(LongType), nullable = true),
      BoundReference(1, ArrayType(LongType), nullable = true))
    val row = InternalRow(
      new GenericArrayData(Array[Any](1500L, -2250L, 3000L)),
      new GenericArrayData(Array[Any](500L, 4000L, -1000L)))
    val gen = codegenValue(e, row, _.getLong(0))
    assert(gen === e.eval(row))
    assert(gen === 1500L * 500L + -2250L * 4000L + 3000L * -1000L)
  }

  test("MilliVecDot generated Java compiles, matches interpreted eval and " +
      "the unfused transform+dot formulation") {
    val e = graft.functions.MilliVecDot(
      BoundReference(0, ArrayType(FloatType), nullable = true),
      BoundReference(1, ArrayType(LongType), nullable = true))
    val fl = Array[Any](1.5f, -2.25f, 3.0009f, -0.0004f)
    val qs = Array[Any](500L, 4000L, -1000L, 7L)
    val row = InternalRow(new GenericArrayData(fl), new GenericArrayData(qs))
    val gen = codegenValue(e, row, _.getLong(0))
    assert(gen === e.eval(row))
    // the fused quantize is the oracle's: floor(x·1000 + 0.5) per element
    val expected = fl.map(x => math.floor(
      x.asInstanceOf[Float].toDouble * 1000.0 + 0.5).toLong)
      .zip(qs.map(_.asInstanceOf[Long])).map { case (a, b) => a * b }.sum
    assert(gen === expected)
  }

  test("BloomMightContain generated Java compiles and matches interpreted eval") {
    val e = graft.functions.BloomMightContain(
      BoundReference(0, LongType, nullable = true),
      BoundReference(1, ArrayType(LongType, containsNull = false),
        nullable = true))
    // build a real bitset for keys 0..99 via the aggregate's update path
    val agg = graft.functions.BloomAgg(
      BoundReference(0, LongType, nullable = true))
    val buf = (0L until 100L).foldLeft(agg.createAggregationBuffer()) {
      (b, k) => agg.update(b, InternalRow(k))
    }
    val bits = new GenericArrayData(buf.toArray[Any])
    for (k <- Seq(0L, 57L, 99L, 100L, 123456L)) {
      val row = InternalRow(k, bits)
      val gen = codegenValue(e, row, _.getBoolean(0))
      assert(gen === e.eval(row), s"key $k codegen/interp divergence")
      if (k < 100L) assert(gen === true, s"built key $k must probe true")
    }
  }

  test("JaroWinklerSim generated Java compiles and matches interpreted eval") {
    val e = graft.functions.JaroWinklerSim(
      BoundReference(0, StringType, nullable = true),
      BoundReference(1, StringType, nullable = true))
    for ((a, b) <- Seq("MARTHA" -> "MARHTA", "DIXON" -> "DICKSONX",
                       "same" -> "same", "" -> "abc")) {
      val row = InternalRow(UTF8String.fromString(a), UTF8String.fromString(b))
      val gen = codegenValue(e, row, _.getDouble(0))
      assert(gen === e.eval(row), s"($a, $b) codegen/interp divergence")
    }
    val empty = InternalRow(UTF8String.fromString(""),
      UTF8String.fromString("abc"))
    assert(codegenValue(e, empty, _.getDouble(0)) === 0.0)
    // the null branch survives codegen too
    val withNull = InternalRow(null, UTF8String.fromString("abc"))
    assert(GenerateUnsafeProjection.generate(Seq(e))(withNull).isNullAt(0))
    assert(e.eval(withNull) === null)
  }

  test("SortedJaccardMeets generated Java compiles and matches " +
      "interpreted eval") {
    val e = graft.functions.SortedJaccardMeets(
      BoundReference(0, ArrayType(LongType), nullable = true),
      BoundReference(1, ArrayType(LongType), nullable = true))
    def longs(xs: Long*) = new GenericArrayData(xs.map(x => x: Any).toArray)
    // qualifies (|∩| = 5), disqualified by the merge (-1), pruned by
    // length (-2), both empty (|∩| = 0 meets 3·0 ≥ 0)
    for (((a, b), expected) <- Seq(
        (longs(1, 2, 3, 4, 5, 6), longs(2, 3, 4, 5, 6, 7)) -> 5L,
        (longs((2L to 200L by 2): _*), longs((1L to 199L by 2): _*)) -> -1L,
        (longs(1), longs(1, 2, 3, 4, 5, 6)) -> -2L,
        (longs(), longs()) -> 0L)) {
      val row = InternalRow(a, b)
      val gen = codegenValue(e, row, _.getLong(0))
      assert(gen === e.eval(row), s"$expected codegen/interp divergence")
      assert(gen === expected)
    }
    val withNull = InternalRow(null, longs(1, 2))
    assert(GenerateUnsafeProjection.generate(Seq(e))(withNull).isNullAt(0))
    assert(e.eval(withNull) === null)
  }

  test("near-dup pipeline end-to-end under CODEGEN_ONLY with fallback off") {
    val conf = spark.conf
    val prevFactory = conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    conf.set("spark.sql.codegen.fallback", "false")
    try {
      val minhash = operators.Dedup.queries("dd_minhash_lsh")(spark, sf)
      assert(minhash.count() > 0)
      val simhash = operators.Dedup.queries("dd_simhash")(spark, sf)
      assert(simhash.count() > 0)
    } finally {
      prevFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(
        v => conf.set("spark.sql.codegen.factoryMode", v))
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(
        v => conf.set("spark.sql.codegen.fallback", v))
    }
  }

  test("non-ARRAY<STRING> child is rejected at analysis time, not runtime") {
    import spark.implicits._
    graft.functions.MinHash9.register(spark)
    graft.functions.SimHash63.register(spark)
    val df = Seq(1L, 2L).toDF("x")
    val e1 = intercept[Exception](df.selectExpr("minhash9(x)").collect())
    assert(e1.getMessage.contains("ARRAY<STRING>"))
    val e2 = intercept[Exception](df.selectExpr("simhash63(x)").collect())
    assert(e2.getMessage.contains("ARRAY<STRING>"))
  }

  test("morton and vec_dot reject wrong input types at analysis time") {
    import spark.implicits._
    graft.functions.MortonCode.register(spark)
    graft.functions.VectorFunctions.register(spark)
    val df = Seq(("k", 1.5)).toDF("s", "d")
      .select(col("s"), col("d"), array(col("d"), col("d")).as("dv"))
    val e1 = intercept[Exception](df.selectExpr("morton(s, s)").collect())
    assert(e1.getMessage.contains("integral"))
    // doubles silently truncated to long before — now rejected
    val e2 = intercept[Exception](df.selectExpr("morton(d, d)").collect())
    assert(e2.getMessage.contains("integral"))
    val e3 = intercept[Exception](df.selectExpr("vec_dot(dv, dv)").collect())
    assert(e3.getMessage.contains("ARRAY<FLOAT>"))
  }

  test("quantile_sketch rejects DECIMAL/STRING measures at analysis time") {
    import spark.implicits._
    graft.functions.QuantileSketch.register(spark)
    val df = Seq("10", "20").toDF("s")
      .select(col("s"), col("s").cast("decimal(10,2)").as("d"))
    val e1 = intercept[Exception](
      df.selectExpr("quantile_sketch(s)").collect())
    assert(e1.getMessage.contains("integral"))
    val e2 = intercept[Exception](
      df.selectExpr("quantile_sketch(d)").collect())
    assert(e2.getMessage.contains("integral"))
  }
}
