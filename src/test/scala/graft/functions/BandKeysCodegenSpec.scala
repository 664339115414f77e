package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Strict codegen regression for the band-keys expression.
  *
  * UnsafeProjection.create CATCHES Janino compile errors and silently falls
  * back to interpreted evaluation — which is exactly how a Scala-`private`
  * BandKeysExpr disabled whole-stage codegen for every MinHash plan without
  * failing a single test. GenerateUnsafeProjection.generate does NOT catch:
  * a compile regression fails this test instead of degrading silently.
  */
class BandKeysCodegenSpec extends AnyFunSuite {

  test("array-distance kernels compile under strict UnsafeProjection codegen") {
    import org.apache.spark.sql.types.DoubleType
    val a = BoundReference(0, ArrayType(DoubleType), nullable = true)
    val b = BoundReference(1, ArrayType(DoubleType), nullable = true)
    val proj = GenerateUnsafeProjection.generate(Seq(
      NativeKernels.CosineSimExpr(a, b),
      NativeKernels.L2DistExpr(a, b),
      NativeKernels.L1DistExpr(a, b)))
    val arr = new GenericArrayData(Array[Any](3.0, 4.0))
    val zero = new GenericArrayData(Array[Any](0.0, 0.0))
    val out = proj(new GenericInternalRow(Array[Any](zero, arr)))
    assert(out.getDouble(0) == 0.0) // zero-norm guard
    assert(out.getDouble(1) == 5.0 && out.getDouble(2) == 7.0)
  }

  test("SimhashBandsExpr compiles under strict UnsafeProjection codegen and evaluates") {
    val e = NativeKernels.SimhashBandsExpr(
      BoundReference(0, ArrayType(StringType), nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val toks = new GenericArrayData(Array[Any](
      UTF8String.fromString("spark"), UTF8String.fromString("join")))
    val out = proj(new GenericInternalRow(Array[Any](toks)))
    val bands = out.getArray(0)
    assert(bands.numElements() == 4)
    (0 until 4).foreach(i => assert(bands.getInt(i) >= 0 && bands.getInt(i) < 65536))
    // null input array -> the all-zero fingerprint, never a null result
    val outNull = proj(new GenericInternalRow(Array[Any](null)))
    assert((0 until 4).forall(i => outNull.getArray(0).getInt(i) == 0))
  }

  test("CompressRatioExpr compiles under strict UnsafeProjection codegen and evaluates") {
    val e = NativeKernels.CompressRatioExpr(
      BoundReference(0, StringType, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val out = proj(new GenericInternalRow(
      Array[Any](UTF8String.fromString("abc abc abc abc abc abc"))))
    assert(out.getDouble(0) > 0.0 && out.getDouble(0) < 1.2)
    assert(proj(new GenericInternalRow(Array[Any](null))).isNullAt(0))
  }

  test("BandKeysExpr compiles under strict UnsafeProjection codegen and evaluates") {
    val e = NativeKernels.BandKeysExpr(
      BoundReference(0, ArrayType(StringType), nullable = true), 16, 4, 4)
    val proj = GenerateUnsafeProjection.generate(Seq(e)) // throws on compile error
    val arr = new GenericArrayData(
      Array[Any](UTF8String.fromString("ab"), UTF8String.fromString("cd")))
    val out = proj(new GenericInternalRow(Array[Any](arr))).getArray(0)
    assert(out.numElements() == 4)
    // generated code agrees with interpreted eval
    val interp = e.eval(new GenericInternalRow(Array[Any](arr)))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert((0 until 4).forall(i =>
      out.getUTF8String(i).toString == interp.getUTF8String(i).toString))
  }

  test("PQ encode/ADC and BPE kernels compile under strict codegen and " +
    "agree with interpreted eval") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    val books = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 0.0)),
      Seq(Seq(1.0, 1.0), Seq(-1.0, -1.0)))
    val enc = NativeKernels.PqEncodeExpr(
      BoundReference(0, ArrayType(DoubleType), nullable = true), books)
    val adc = NativeKernels.PqAdcExpr(
      BoundReference(1, ArrayType(IntegerType), nullable = true),
      Seq(Seq(1.0, 4.0), Seq(9.0, 16.0)))
    val bpe = graft.operators.Bpe.BpeTokensExpr(
      BoundReference(2, ArrayType(StringType), nullable = true),
      Seq(("a", "b"), ("ab", "c")))
    val proj = GenerateUnsafeProjection.generate(Seq(enc, adc, bpe))
    val vec = new GenericArrayData(Array[Any](0.9, 0.1, -0.9, -1.1))
    val codes = new GenericArrayData(Array[Any](1, 0))
    val words = new GenericArrayData(Array[Any](
      UTF8String.fromString("abc"), UTF8String.fromString("ba")))
    val row = new GenericInternalRow(Array[Any](vec, codes, words))
    val out = proj(row)
    val got = out.getArray(0)
    assert(got.numElements() == 2 && got.getInt(0) == 1 && got.getInt(1) == 1)
    assert(out.getDouble(1) == math.sqrt(4.0 + 9.0))
    val toks = out.getArray(2)
    assert((0 until toks.numElements()).map(toks.getUTF8String(_).toString) ==
      Seq("abc", "</w>", "b", "a", "</w>"))
    // generated code agrees with interpreted eval on all three
    assert(enc.eval(row).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray().toSeq == Seq(1, 1))
    assert(adc.eval(row) == out.getDouble(1))
    // null inputs stay null
    val nulls = new GenericInternalRow(Array[Any](null, null, null))
    val outN = proj(nulls)
    assert(outN.isNullAt(0) && outN.isNullAt(1) && outN.isNullAt(2))
  }

  test("served search kernels (query values, query-set Jaccard, in_keys) " +
    "compile under strict UnsafeProjection codegen and agree with " +
    "interpreted eval") {
    import org.apache.spark.sql.catalyst.expressions.{Abs, Subtract}
    import org.apache.spark.sql.types.{BinaryType, DecimalType, DoubleType, LongType}
    val x = BoundReference(0, DoubleType, nullable = true)
    val vec = BoundReference(1, ArrayType(DoubleType), nullable = true)
    val toks = BoundReference(2, ArrayType(StringType), nullable = true)
    val text = BoundReference(3, StringType, nullable = true)
    val id = BoundReference(4, LongType, nullable = true)
    val dec = BoundReference(5, DecimalType(10, 2), nullable = true)
    val bin = BoundReference(6, BinaryType, nullable = true)
    def packed(keys: Seq[Any], dt: org.apache.spark.sql.types.DataType, child: BoundReference) =
      org.apache.spark.sql.GraftColumnBridge.expression(
        NativeKernels.inKeys(org.apache.spark.sql.functions.lit(null), keys, dt))
        .withNewChildren(Seq(child))
    val exprs = Seq(
      Abs(Subtract(x, NativeKernels.QueryValueExpr(2.5, DoubleType))),
      NativeKernels.L2DistExpr(vec, NativeKernels.QueryValueExpr(
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(Array(0.0, 0.0)),
        ArrayType(DoubleType, containsNull = false))),
      NativeKernels.QuerySetJaccardExpr(toks, Seq("a", "b", "b"), 0),
      NativeKernels.QuerySetJaccardExpr(text, Seq("ab", "bc"), 2),
      packed(Seq(3L, 5L), LongType, id),
      packed(Seq(org.apache.spark.sql.types.Decimal(new java.math.BigDecimal("1.25"), 10, 2)),
        DecimalType(10, 2), dec),
      packed(Seq(Array[Byte](1, 2)), BinaryType, bin))
    val proj = GenerateUnsafeProjection.generate(exprs) // throws on compile error
    val row = new GenericInternalRow(Array[Any](
      1.0, new GenericArrayData(Array[Any](3.0, 4.0)),
      new GenericArrayData(Array[Any](UTF8String.fromString("a"), null, UTF8String.fromString("c"))),
      UTF8String.fromString("abc"), 5L,
      org.apache.spark.sql.types.Decimal(new java.math.BigDecimal("1.25"), 10, 2),
      Array[Byte](1, 2)))
    val out = proj(row)
    assert(out.getDouble(0) == 1.5 && out.getDouble(1) == 5.0)
    assert(out.getDouble(2) == 1.0 - 1.0 / (3 + 3 - 1)) // |row| counts the null
    assert(out.getDouble(3) == 0.0) // grams {ab, bc} == the query
    assert(out.getBoolean(4) && out.getBoolean(5) && out.getBoolean(6))
    exprs.zipWithIndex.foreach { case (e, i) =>
      assert(e.eval(row) == out.get(i, e.dataType), (e, i))
    }
    // null inputs: the set kernels score the empty set, in_keys is null
    val nulls = proj(new GenericInternalRow(Array.fill[Any](7)(null)))
    assert(nulls.getDouble(2) == 1.0 && nulls.getDouble(3) == 1.0)
    assert((4 to 6).forall(nulls.isNullAt))
  }
}
