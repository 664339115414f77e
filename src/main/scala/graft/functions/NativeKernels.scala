package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions (with `doGenCode`) for the array-distance hot
  * path. Spark's higher-order functions (`aggregate`, `zip_with`) evaluate a
  * closure per element per row in interpreted mode — fine for prototyping,
  * but a 64-dim fold over billions of rows deserves a compiled loop inside
  * whole-stage codegen. Accumulation order is the same sequential
  * left-to-right as the fold versions in [[SimKernels]], so results are
  * bit-identical and the DuckDB oracles are unaffected.
  *
  * Preconditions: both inputs are array<double> with non-null elements
  * (enforced upstream by the `cast("array<double>")` the callers apply);
  * lengths are compared up to the shorter input.
  */
object NativeKernels {

  /** One MD5 instance per thread, shared by every hashing kernel:
    * DigestUtils.md5Hex constructs a fresh MessageDigest (provider lookup +
    * allocation) per CALL — per token / per shingle on the dedup hot path —
    * and round-trips through a 32-char hex String even when the caller only
    * needs bits. digest() resets the instance, so reuse is safe. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private[functions] def md5Of(bytes: Array[Byte]): Array[Byte] =
    md5Local.get().digest(bytes)
  private val HexDigits = "0123456789abcdef".toCharArray
  /** Lowercase-hex md5 into the caller's reusable 32-char buffer
    * (bit-identical to DigestUtils.md5Hex without the String per call). */
  private[functions] def md5HexInto(bytes: Array[Byte], out: Array[Char]): Unit = {
    val d = md5Of(bytes)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
  }

  private[functions] abstract class ArrayPairExpression extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true

    /** Java loop body: given array vars `a`, `b` and length `n`, set
      * `result`. EVERY local the body declares must come from
      * `ctx.freshName` — fixed names collide when two kernel expressions
      * land in one generated function (a projection computing both l2 and
      * l1), and a literal `i` collides with UnsafeProjection's input-row
      * PARAMETER `i` (Java forbids shadowing parameters); either way
      * Janino rejects the code and Spark silently disables codegen for
      * the plan (BandKeysCodegenSpec compiles strictly to catch this). */
    protected def loopCode(ctx: CodegenContext, a: String, b: String,
        n: String, result: String): String
    protected def compute(a: ArrayData, b: ArrayData): Double

    override def nullSafeEval(l: Any, r: Any): Any =
      compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |${loopCode(ctx, a, b, n, ev.value)}
         """.stripMargin
      })
  }

  /** Cosine similarity in one pass (dot + both norms); zero-norm inputs
    * score 0 (mirrors SimKernels.cosineSim). */
  private[functions] case class CosineSimExpr(left: Expression, right: Expression)
      extends ArrayPairExpression {
    override def prettyName: String = "cosine_sim_native"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)

    override protected def compute(a: ArrayData, b: ArrayData): Double = {
      val n = math.min(a.numElements(), b.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = a.getDouble(i); val y = b.getDouble(i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (math.sqrt(na) == 0.0 || math.sqrt(nb) == 0.0) 0.0 else dot / d
    }

    override protected def loopCode(ctx: CodegenContext, a: String, b: String,
        n: String, result: String): String = {
      val (dot, na, nb, i, x, y) = (ctx.freshName("dot"), ctx.freshName("na"),
        ctx.freshName("nb"), ctx.freshName("i"), ctx.freshName("x"), ctx.freshName("y"))
      s"""
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i); double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |$na = java.lang.Math.sqrt($na); $nb = java.lang.Math.sqrt($nb);
         |$result = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / ($na * $nb);
       """.stripMargin
    }
  }

  /** L2 (Euclidean) distance. */
  private[functions] case class L2DistExpr(left: Expression, right: Expression)
      extends ArrayPairExpression {
    override def prettyName: String = "l2_dist_native"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)

    override protected def compute(a: ArrayData, b: ArrayData): Double = {
      val n = math.min(a.numElements(), b.numElements())
      var s = 0.0; var i = 0
      while (i < n) { val d = a.getDouble(i) - b.getDouble(i); s += d * d; i += 1 }
      math.sqrt(s)
    }

    override protected def loopCode(ctx: CodegenContext, a: String, b: String,
        n: String, result: String): String = {
      val (s, i, d) = (ctx.freshName("s"), ctx.freshName("i"), ctx.freshName("d"))
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i); $s += $d * $d;
         |}
         |$result = java.lang.Math.sqrt($s);
       """.stripMargin
    }
  }

  /** L1 (Manhattan) distance. */
  private[functions] case class L1DistExpr(left: Expression, right: Expression)
      extends ArrayPairExpression {
    override def prettyName: String = "l1_dist_native"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)

    override protected def compute(a: ArrayData, b: ArrayData): Double = {
      val n = math.min(a.numElements(), b.numElements())
      var s = 0.0; var i = 0
      while (i < n) { s += math.abs(a.getDouble(i) - b.getDouble(i)); i += 1 }
      s
    }

    override protected def loopCode(ctx: CodegenContext, a: String, b: String,
        n: String, result: String): String = {
      val (s, i) = (ctx.freshName("s"), ctx.freshName("i"))
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += java.lang.Math.abs($a.getDouble($i) - $b.getDouble($i));
         |}
         |$result = $s;
       """.stripMargin
    }
  }

  import GraftColumnBridge.{column, expression}

  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimExpr(expression(a), expression(b)))
  def l2Dist(a: Column, b: Column): Column =
    column(L2DistExpr(expression(a), expression(b)))
  def l1Dist(a: Column, b: Column): Column =
    column(L1DistExpr(expression(a), expression(b)))

  // ------------------------------------------------------ served /search

  /** One query constant of a served search — a double, or a vector of
    * doubles — bound by REFERENCE. A `lit` is inlined into the generated
    * Java source, and that source is the codegen cache key, so every
    * request with new query values compiled its distance streams afresh.
    * This leaf evaluates to the same value but is not foldable, and its
    * generated code reads the value from the reference array: every
    * request of a class generates the same source and compiles nothing. */
  private[functions] case class QueryValueExpr(value: Any, dataType: DataType)
      extends org.apache.spark.sql.catalyst.expressions.LeafExpression {
    require(dataType == DoubleType || dataType == QueryVectorType,
      s"query_value holds a double or array<double>, got ${dataType.simpleString}")
    override def nullable: Boolean = false
    override def prettyName: String = "query_value"
    // the value is left out of the hash (equality still compares it):
    // common-subexpression elimination orders the subexpressions it hoists
    // by hash, and a value-dependent order is a different source
    override def hashCode(): Int = dataType.hashCode
    override def toString: String = value match {
      case a: ArrayData => s"$prettyName(${a.toDoubleArray().mkString(", ")})"
      case v => s"$prettyName($v)"
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = value

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, FalseLiteral}
      val ref = ctx.addReferenceObj("queryValue", value, CodeGenerator.boxedType(dataType))
      val read = if (dataType == DoubleType) s"$ref.doubleValue()" else ref
      ev.copy(code = code"${CodeGenerator.javaType(dataType)} ${ev.value} = $read;",
        isNull = FalseLiteral)
    }
  }

  private val QueryVectorType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)

  /** A query double that enters generated code by reference
    * ([[QueryValueExpr]]); the same value as `lit(q)`. */
  def queryValue(q: Double): Column = column(QueryValueExpr(q, DoubleType))

  /** A query vector (array<double>, no nulls) that enters generated code by
    * reference; the same value as `array(qs.map(lit): _*)`. */
  def queryVector(qs: Seq[Double]): Column = column(QueryValueExpr(
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(qs.toArray),
    QueryVectorType))

  /** Jaccard distance of each row's set to ONE query set, in one compiled
    * pass — the served twin of
    * `SimKernels.jaccardDistDistinct(rowSet, array(query.map(lit): _*))`,
    * bit-identical (NativeKernelSpec property-checks it). The composed form
    * runs `array_intersect` against a literal array, which rebuilds a hash
    * set of the query per row, and for a textual facet the interpreted
    * `transform` that cuts the q-grams. Here the query set is a hash map
    * built once per task, and the row's grams are cut in the same pass.
    *
    * `q` = 0: the row is a token array (a categorical facet). `q` >= 1: the
    * row is a string and its set is the distinct q-grams of
    * `SimKernels.qgrams` — code-point substrings at 1..max(len - q + 1, 1),
    * none for a null or empty string.
    *
    * d = 1 - inter / (|row| + |query| - inter), a union of 0 scoring 0,
    * where inter counts the distinct row elements found in the query (a
    * null element never is) and |row|, |query| are the raw sizes: a token
    * array's own duplicates and nulls count in |row|, and duplicate query
    * tokens count in |query|, exactly as `size` counts them. A null row is
    * the empty set, d = 1.0 — never null, which would sort first in a
    * top-M list. */
  private[functions] case class QuerySetJaccardExpr(child: Expression,
      query: Seq[String], q: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.unsafe.types.UTF8String

    require(q >= 0, s"q-gram length must be >= 0 (0 = token array), got $q")
    require(!query.contains(null), "query tokens must not be null")

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      import org.apache.spark.sql.catalyst.util.TypeUtils.typeWithProperEquals
      import org.apache.spark.sql.types.{ArrayType, StringType}
      // binary string equality: the hash lookup is array_intersect's only
      // for a collation that compares bytes
      (child.dataType, q) match {
        case (ArrayType(s: StringType, _), 0) if typeWithProperEquals(s) =>
          TypeCheckResult.TypeCheckSuccess
        case (s: StringType, _) if q > 0 && typeWithProperEquals(s) =>
          TypeCheckResult.TypeCheckSuccess
        case (other, _) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires ${if (q == 0) "array<string>" else "string"}, " +
            s"got ${other.simpleString}")
      }
    }
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = false
    override def prettyName: String =
      if (q == 0) "query_set_jaccard_dist" else "query_qgram_jaccard_dist"
    override def toString: String = s"$prettyName($child, ${query.size} query tokens)"
    // the query is left out of the hash, as in QueryValueExpr
    override def hashCode(): Int = (child, q).hashCode
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    private val querySize: Double = query.size.toDouble
    @transient private lazy val querySet: java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String]
      query.foreach(t => s.add(UTF8String.fromString(t)))
      s
    }
    /** the row elements seen so far, reused across the rows of a thread */
    @transient private lazy val rowSeen = new ThreadLocal[java.util.HashSet[UTF8String]] {
      override def initialValue(): java.util.HashSet[UTF8String] = new java.util.HashSet
    }

    // the composed form's double arithmetic, in its order
    private def dist(rowSize: Int, inter: Int): Double = {
      val i = inter.toDouble
      val union = rowSize.toDouble + querySize - i
      1.0 - (if (union == 0.0) 0.0 else i / union)
    }

    def computeTokens(row: ArrayData): Double = {
      val n = if (row == null) 0 else row.numElements()
      val seen = rowSeen.get()
      seen.clear()
      var inter = 0
      var i = 0
      while (i < n) {
        if (!row.isNullAt(i)) {
          val t = row.getUTF8String(i)
          if (querySet.contains(t) && seen.add(t)) inter += 1
        }
        i += 1
      }
      dist(n, inter)
    }

    def computeGrams(s: UTF8String): Double = {
      val nChars = if (s == null) 0 else s.numChars()
      if (nChars == 0) return dist(0, 0)
      val bytes = s.getBytes
      // code point -> byte offset, one walk (the boundaries substr uses)
      val off = new Array[Int](nChars + 1)
      var c = 0; var b = 0
      while (c < nChars) {
        off(c) = b
        b = math.min(b + UTF8String.numBytesForFirstByte(bytes(b)), bytes.length)
        c += 1
      }
      off(nChars) = bytes.length
      val seen = rowSeen.get()
      seen.clear()
      val nGrams = math.max(nChars - q + 1, 1)
      var inter = 0
      var g = 0
      while (g < nGrams) {
        val start = off(g)
        val gram = UTF8String.fromBytes(bytes, start, off(math.min(g + q, nChars)) - start)
        if (seen.add(gram) && querySet.contains(gram)) inter += 1
        g += 1
      }
      dist(seen.size, inter)
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (q == 0) computeTokens(v.asInstanceOf[ArrayData])
      else computeGrams(v.asInstanceOf[UTF8String])
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // one call into this expression's own kernel, which holds the query
      // set: the generated source names no query token, so it is the same
      // for every query. A null row is the empty set (isNull is constant).
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val ref = ctx.addReferenceObj("querySetJaccardExpr", this)
      val childGen = child.genCode(ctx)
      val kernel = if (q == 0) "computeTokens" else "computeGrams"
      ev.copy(
        code = code"""
          ${childGen.code}
          double ${ev.value} = $ref.$kernel(${childGen.isNull} ? null : ${childGen.value});
        """,
        isNull = FalseLiteral)
    }
  }

  /** Jaccard distance of a token-array column to a query token set
    * ([[QuerySetJaccardExpr]], `q` = 0). */
  def querySetJaccardDist(tokens: Column, query: Seq[String]): Column =
    column(QuerySetJaccardExpr(expression(tokens.cast("array<string>")), query, 0))

  /** Jaccard distance of a string column's distinct q-grams to a query gram
    * set ([[QuerySetJaccardExpr]]). */
  def queryQgramJaccardDist(text: Column, queryGrams: Seq[String], q: Int): Column = {
    require(q >= 1, s"q-gram length must be >= 1, got $q")
    column(QuerySetJaccardExpr(expression(text.cast("string")), queryGrams, q))
  }

  /** Membership of the child in a fixed key set — the candidate filter of
    * rank aggregation's phase 2. `InSet` over the same keys is correct but
    * costs in proportion to its keys on every request: the plan
    * description sorts and prints them, and the task closure serializes its
    * hash set object by object. Here the keys travel as ONE packed
    * `UnsafeArrayData` (Catalyst values of `keyType`, no nulls), the lookup
    * set is rebuilt lazily where the predicate runs, and the description
    * prints only the count. Equality is InSet's: hashing where the type has
    * proper equals, the type's interpreted ordering otherwise. A null child
    * is null. */
  private[functions] case class InKeysExpr(child: Expression,
      keys: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData, keyType: DataType)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      if (child.dataType == keyType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName keys are ${keyType.simpleString}, got ${child.dataType.simpleString}")
    }
    override def dataType: DataType = org.apache.spark.sql.types.BooleanType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "in_keys"
    override def toString: String = s"$child IN (${keys.numElements()} keys)"
    // the keys are left out of the hash, as in QueryValueExpr
    override def hashCode(): Int = (child, keyType).hashCode
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    @transient private lazy val set: java.util.Set[Any] = {
      import org.apache.spark.sql.catalyst.util.TypeUtils
      val s: java.util.Set[Any] =
        if (TypeUtils.typeWithProperEquals(keyType)) new java.util.HashSet[Any]
        else new java.util.TreeSet[Any](TypeUtils.getInterpretedOrdering(keyType))
      var i = 0
      while (i < keys.numElements()) { s.add(keys.get(i, keyType)); i += 1 }
      s
    }

    def contains(v: Any): Boolean = set.contains(v)

    override protected def nullSafeEval(v: Any): Any = contains(v)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("inKeysExpr", this)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.contains($c);")
    }
  }

  /** `c IN keys` over Catalyst values of `keyType` with no null among them
    * ([[InKeysExpr]]). */
  def inKeys(c: Column, keys: Seq[Any], keyType: DataType): Column = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val packed = UnsafeProjection.create(Array[DataType](
        org.apache.spark.sql.types.ArrayType(keyType, containsNull = false)))
      .apply(InternalRow(new GenericArrayData(keys.toArray))).getArray(0).copy()
    column(InKeysExpr(expression(c), packed, keyType))
  }

  // ----------------------------------------------------------- MinHash/LSH

  /** All LSH band keys of a shingle-set column in ONE pass — the native
    * twin of the composed TextKernels chain (md5 per shingle -> 16
    * lexicographic-min 8-hex-char windows -> md5 per 4-signature band),
    * bit-identical including the empty-set edge (no shingles -> every
    * signature NULL -> concat_ws skips them -> md5 of ""). The composed
    * form walks the digest array once per signature through interpreted
    * higher-order functions; this computes every window minimum in the
    * single digest pass. */
  // private[functions], NOT private: Scala-private nested classes compile to
  // JVM-inaccessible classes, and Janino then rejects the generated
  // `((NativeKernels$BandKeysExpr) references[i]).computeKeys(...)` call with
  // "no applicable method" — silently disabling whole-stage codegen for every
  // plan containing this expression. private[functions] keeps the source
  // surface closed but emits a public class the generated code can call.
  private[functions] case class BandKeysExpr(child: Expression,
      numHashes: Int, numBands: Int, rowsPerBand: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String

    require(numHashes >= 1 && numHashes <= 25,
      s"numHashes must be in [1, 25] (8-char windows of a 32-char md5), got $numHashes")
    require(numBands * rowsPerBand <= numHashes,
      s"bands x rows ($numBands x $rowsPerBand) exceed $numHashes signatures")

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string> shingles, got ${other.simpleString}")
      }
    }
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false)
    // a NULL shingle array must yield the SAME keys as the composed chain:
    // every signature NULL -> concat_ws skips them -> md5("") per band
    // (never a NULL result — concat_ws never returns null)
    override def nullable: Boolean = false
    override def prettyName: String = "band_keys_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    def computeKeys(input: ArrayData): ArrayData = {
      val n = if (input == null) 0 else input.numElements()
      val sigs = new Array[String](numHashes)
      val hex = new Array[Char](32) // reused per shingle
      var i = 0
      while (i < n) {
        if (!input.isNullAt(i)) {
          md5HexInto(input.getUTF8String(i).getBytes, hex)
          var j = 0
          while (j < numHashes) {
            val cur = sigs(j)
            // compare the 8-char window in place; allocate only on a new
            // minimum (String.compareTo is the same char-wise order)
            var lt = cur == null
            if (!lt) {
              var c = 0
              var cmp = 0
              while (c < 8 && cmp == 0) {
                cmp = hex(j + c) - cur.charAt(c)
                c += 1
              }
              lt = cmp < 0
            }
            if (lt) sigs(j) = new String(hex, j, 8)
            j += 1
          }
        }
        i += 1
      }
      val hexOut = new Array[Char](32)
      val keys = new Array[Any](numBands)
      var b = 0
      while (b < numBands) {
        // concat_ws semantics: null signatures are skipped entirely
        val parts = sigs.slice(b * rowsPerBand, (b + 1) * rowsPerBand).filter(_ != null)
        md5HexInto(parts.mkString("|")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8), hexOut)
        keys(b) = UTF8String.fromString(new String(hexOut))
        b += 1
      }
      new GenericArrayData(keys)
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      computeKeys(child.eval(input).asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // stays inside whole-stage codegen by calling this expression's own
      // compiled (JIT'd) kernel — the win is the single-pass algorithm, not
      // per-operator bytecode. A null child value maps to the md5("") keys
      // (see nullable above), so isNull is constant false.
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val ref = ctx.addReferenceObj("bandKeysExpr", this)
      val childGen = child.genCode(ctx)
      val arrCls = classOf[ArrayData].getName
      ev.copy(
        code = code"""
          ${childGen.code}
          $arrCls ${ev.value} = ($arrCls) $ref.computeKeys(
            ${childGen.isNull} ? null : ${childGen.value});
        """,
        isNull = FalseLiteral)
    }
  }

  /** One-pass LSH band keys over a shingle array (graft.operators.Dedup
    * constants by default). */
  def bandKeys(shingles: Column, numHashes: Int, numBands: Int,
      rowsPerBand: Int): Column =
    column(BandKeysExpr(expression(shingles), numHashes, numBands, rowsPerBand))

  // -------------------------------------------------------- word shingles

  /** Distinct word 2-shingles straight from the text in ONE pass — the
    * native twin of `TextKernels.wordShingles2(TextKernels.wordTokens(s))`,
    * bit-identical (NativeKernelSpec property-checks it). The composed
    * chain is four nested higher-order functions (split -> transform ->
    * filter -> transform + array_distinct), which Catalyst evaluates
    * INTERPRETED — outside whole-stage codegen, re-walking the token array
    * per element — and it sits at the head of every banded dedup operator,
    * so the whole family pays it per document. This walks the UTF-8 bytes
    * once (0x20 never occurs inside a multi-byte sequence, so splitting on
    * the raw bytes is exact), concatenates adjacent tokens, and dedups
    * with first-occurrence order exactly like `array_distinct`.
    *
    * Edge parity with the composed chain: NULL text -> NULL (the chain's
    * null poisons through), zero or one token -> empty array, consecutive
    * separators collapse (empty segments are filtered like the chain's
    * `t =!= ""`), non-space whitespace stays inside tokens (the chain
    * splits on 0x20 only; its `trim` strips only 0x20, which a
    * split-on-0x20 segment cannot carry). */
  private[functions] case class WordShingles2Expr(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string, got ${other.simpleString}")
      }
    }
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "word_shingles2_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    def compute(s: UTF8String): ArrayData = {
      val bytes = s.getBytes
      // token byte ranges: maximal runs between 0x20 separators, empties
      // dropped
      val starts = new java.util.ArrayList[Int]()
      val ends = new java.util.ArrayList[Int]()
      var i = 0; var tokStart = 0
      while (i <= bytes.length) {
        if (i == bytes.length || bytes(i) == 0x20) {
          if (i > tokStart) { starts.add(tokStart); ends.add(i) }
          tokStart = i + 1
        }
        i += 1
      }
      val n = starts.size()
      if (n < 2) return new GenericArrayData(Array.empty[Any])
      val seen = new java.util.LinkedHashSet[UTF8String]()
      var t = 0
      while (t < n - 1) {
        val len = (ends.get(t) - starts.get(t)) + 1 + (ends.get(t + 1) - starts.get(t + 1))
        val out = new Array[Byte](len)
        val l1 = ends.get(t) - starts.get(t)
        System.arraycopy(bytes, starts.get(t), out, 0, l1)
        out(l1) = 0x20
        System.arraycopy(bytes, starts.get(t + 1), out, l1 + 1,
          ends.get(t + 1) - starts.get(t + 1))
        seen.add(UTF8String.fromBytes(out))
        t += 1
      }
      val arr = new Array[Any](seen.size())
      val it = seen.iterator(); var k = 0
      while (it.hasNext) { arr(k) = it.next(); k += 1 }
      new GenericArrayData(arr)
    }

    override protected def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wordShingles2Expr", this)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }
  }

  /** Distinct word 2-shingles of a text column, one native pass. */
  def wordShingles2(text: Column): Column =
    column(WordShingles2Expr(expression(text)))

  /** Whitespace word tokens in ONE pass — the native twin of
    * `TextKernels.wordTokens`, bit-identical (same split-on-0x20, empties
    * dropped, duplicates and order preserved — see [[WordShingles2Expr]]
    * for why byte-splitting on 0x20 is exact and why the chain's `trim`
    * is a no-op on split segments). The composed form is a three-deep
    * higher-order-function chain evaluated interpreted; every token-array
    * consumer (token counts, SimHash, tf-idf, chunking, quality stats)
    * starts here. */
  private[functions] case class WordTokensExpr(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string, got ${other.simpleString}")
      }
    }
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "word_tokens_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    def compute(s: UTF8String): ArrayData = {
      val bytes = s.getBytes
      val toks = new java.util.ArrayList[Any]()
      var i = 0; var tokStart = 0
      while (i <= bytes.length) {
        if (i == bytes.length || bytes(i) == 0x20) {
          if (i > tokStart)
            toks.add(UTF8String.fromBytes(
              java.util.Arrays.copyOfRange(bytes, tokStart, i)))
          tokStart = i + 1
        }
        i += 1
      }
      new GenericArrayData(toks.toArray)
    }

    override protected def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wordTokensExpr", this)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }
  }

  /** Whitespace word tokens of a text column, one native pass. */
  def wordTokens(text: Column): Column =
    column(WordTokensExpr(expression(text)))

  /** Unicode NFC normalization — the canonical-composition pass every
    * crawl-cleaning pipeline runs before tokenizing (the same visible
    * glyph arrives both precomposed (é = U+00E9) and decomposed
    * (e + U+0301) on the web; without NFC they hash, shingle, and
    * fingerprint differently and every downstream dedup misses the pair).
    * Spark has no built-in; this wraps `java.text.Normalizer` (the JDK's
    * ICU-derived implementation of UAX #15 — DuckDB's `nfc_normalize`
    * implements the same standard algorithm, which is what makes the
    * oracle bit-exact) as a codegen'd kernel with two fast paths: a pure
    * byte scan proves ASCII (NFC is the identity there — the bulk of web
    * text never pays the String round-trip), and `Normalizer.isNormalized`
    * skips the rewrite for already-composed non-ASCII. */
  private[functions] case class NfcNormalizeExpr(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.unsafe.types.UTF8String

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string, got ${other.simpleString}")
      }
    }
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "nfc_normalize_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    def compute(s: UTF8String): UTF8String = {
      val bytes = s.getBytes
      var i = 0
      var ascii = true
      while (ascii && i < bytes.length) {
        if ((bytes(i) & 0x80) != 0) ascii = false
        i += 1
      }
      if (ascii) return s
      val str = s.toString
      if (java.text.Normalizer.isNormalized(str,
          java.text.Normalizer.Form.NFC)) s
      else UTF8String.fromString(java.text.Normalizer.normalize(str,
        java.text.Normalizer.Form.NFC))
    }

    override protected def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("nfcNormalizeExpr", this)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }
  }

  /** NFC-normalize a string column, one native pass (ASCII fast-path). */
  def nfcNormalize(text: Column): Column =
    column(NfcNormalizeExpr(expression(text)))

  /** N-gram repetition statistics of a token array in ONE hash-count
    * pass — the native twin of the composed
    * `TextKernels.topBigramFraction`/`dupNgramFraction` forms. The
    * composed top-fraction is QUADRATIC (it re-filters the full gram list
    * per distinct gram: ~1e6 string comparisons for a 1000-word page,
    * ~2 ms/doc measured); this counts every space-joined n-gram into one
    * HashMap (the join is injective because tokens cannot contain the
    * separator) and reads max / distinct from the same pass. Value-
    * identical: the max count, the distinct count, and the m-n+1 total
    * are the same integers, so the emitted ratios are bit-equal and the
    * DuckDB oracle needs no change. Documents with fewer than n words
    * score 0.0 in both forms. */
  private[functions] case class NgramRepetitionExpr(child: Expression,
      n: Int, top: Boolean)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    require(n >= 1, s"n-gram length must be >= 1: $n")

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, _) =>
          TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.simpleString}")
      }
    }
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String =
      if (top) "top_ngram_frac_native" else "dup_ngram_frac_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    def compute(arr: ArrayData): Double = {
      val m = arr.numElements()
      val total = m - n + 1
      if (total <= 0) return 0.0
      val counts = new java.util.HashMap[String, Integer](total * 2)
      val sb = new java.lang.StringBuilder()
      var best = 0
      var distinct = 0
      var p = 0
      while (p < total) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(arr.getUTF8String(p + j).toString)
          j += 1
        }
        val key = sb.toString
        val prev = counts.get(key)
        val c = if (prev == null) 1 else prev.intValue() + 1
        counts.put(key, Integer.valueOf(c))
        if (c == 1) distinct += 1
        if (c > best) best = c
        p += 1
      }
      if (top) best.toDouble / total
      else 1.0 - distinct.toDouble / total
    }

    override protected def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ngramRepetitionExpr", this)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }
  }

  /** Occupancy of the most frequent word n-gram (max count / total). */
  def topNgramFrac(tokens: Column, n: Int): Column =
    column(NgramRepetitionExpr(expression(tokens), n, top = true))

  /** Fraction of n-gram occurrences that repeat an earlier one
    * (1 - distinct/total). */
  def dupNgramFrac(tokens: Column, n: Int): Column =
    column(NgramRepetitionExpr(expression(tokens), n, top = false))

  /** Occurrence counts of each DISTINCT character bigram of a text, in
    * first-appearance order, one hash-count pass. The native core of the
    * bigram-entropy quality signal: the composed form materializes every
    * `substr(text, i, 2)` and then re-filters the full gram list once per
    * distinct gram — QUADRATIC in text length (~39 s of the sf0.1 bench in
    * one query). Only the counting moves here; the entropy fold stays in
    * Spark SQL over this array, so the summation order (first appearance,
    * matching `array_distinct`) and every double op (`/`, `log2`) are the
    * engine's own — bit-identical to the composed chain and the DuckDB
    * oracle. Gram extraction mirrors `substr(text, i, 2)` for
    * i = 1..max(len-1, 1) exactly: code-point slicing (UTF8String
    * semantics), length clamped at the end, and an empty text yields the
    * single empty gram with count 1. */
  private[functions] case class CharBigramCountsExpr(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string, got ${other.simpleString}")
      }
    }
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "char_bigram_counts_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    def compute(s: UTF8String): ArrayData = {
      val bytes = s.getBytes
      // code-point start offsets + a sentinel at the end, so gram p
      // (0-based) is the byte slice [offs(p), offs(min(p+2, cp)))
      var cp = 0
      var i = 0
      while (i < bytes.length) {
        if ((bytes(i) & 0xC0) != 0x80) cp += 1
        i += 1
      }
      val offs = new Array[Int](cp + 1)
      i = 0; var k = 0
      while (i < bytes.length) {
        if ((bytes(i) & 0xC0) != 0x80) { offs(k) = i; k += 1 }
        i += 1
      }
      offs(cp) = bytes.length
      val total = math.max(cp - 1, 1)
      val counts = new java.util.LinkedHashMap[UTF8String, Integer](total * 2)
      var p = 0
      while (p < total) {
        val from = offs(math.min(p, cp))
        val until = offs(math.min(p + 2, cp))
        val key = UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(bytes, from, until))
        val prev = counts.get(key)
        counts.put(key, Integer.valueOf(if (prev == null) 1 else prev + 1))
        p += 1
      }
      val out = new Array[Any](counts.size())
      val it = counts.values().iterator(); var j = 0
      while (it.hasNext) { out(j) = it.next().intValue(); j += 1 }
      new GenericArrayData(out)
    }

    override protected def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("charBigramCountsExpr", this)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }
  }

  /** Per-distinct-character-bigram counts in first-appearance order. */
  def charBigramCounts(text: Column): Column =
    column(CharBigramCountsExpr(expression(text)))

  /** Rebuild a document with its duplicated spans cut out, one two-pointer
    * pass: tokens at positions covered by any `[span_start, span_end)`
    * interval are dropped, the survivors joined by single spaces. The
    * spans argument MUST be sorted ascending and pairwise disjoint (what
    * `SpanDedup.spans` + `sort_array` produce); bounds outside the token
    * array clamp harmlessly. This replaces a per-TOKEN corpus explode +
    * (id, position) shuffle join + per-document `collect_list`/`array_sort`
    * reassembly with a narrow map over (tokens, ≤len/n spans) — the only
    * shuffled rows left in `SpanDedup.removeSpans` are the duplicate
    * windows themselves. */
  private[functions] case class CutSpansExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    import org.apache.spark.unsafe.types.UTF8String

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructType}
      (left.dataType, right.dataType) match {
        case (ArrayType(StringType, _), ArrayType(st: StructType, _))
          if st.length >= 2 && st.fields(0).dataType == LongType &&
            st.fields(1).dataType == LongType =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<string>, array<struct<long,long,...>>), " +
            s"got (${l.simpleString}, ${r.simpleString})")
      }
    }
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "cut_spans_native"
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)

    // lazy: dataType is only legal on a RESOLVED child — construction
    // happens earlier (analysis copies the tree through withNewChildren)
    private lazy val spanFields =
      right.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          st: org.apache.spark.sql.types.StructType, _) => st.length
        case _ => 2
      }

    def compute(toks: ArrayData, spans: ArrayData): UTF8String = {
      val m = toks.numElements()
      val k = spans.numElements()
      // byte-level join (exactly concat_ws(" ", ...) — no UTF-16 round-trip)
      val out = new java.io.ByteArrayOutputStream()
      var si = 0
      var first = true
      var i = 0
      while (i < m) {
        while (si < k && spans.getStruct(si, spanFields).getLong(1) <= i) si += 1
        val covered = si < k && {
          val s = spans.getStruct(si, spanFields)
          i >= s.getLong(0) && i < s.getLong(1)
        }
        if (!covered) {
          if (!first) out.write(0x20)
          val b = toks.getUTF8String(i).getBytes
          out.write(b, 0, b.length)
          first = false
        }
        i += 1
      }
      UTF8String.fromBytes(out.toByteArray)
    }

    override def nullSafeEval(l: Any, r: Any): Any =
      compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cutSpansExpr", this)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }
  }

  /** Join the tokens NOT covered by the sorted disjoint spans with spaces. */
  def cutSpans(tokens: Column, spans: Column): Column =
    column(CutSpansExpr(expression(tokens), expression(spans)))

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 16-byte md5 fingerprints of every sliding n-token window, one native
    * pass — byte-identical to
    * `transform(sequence(0, size(toks)-n), i -> unhex(md5(concat_ws(" ",
    * slice(toks, i+1, n)))))` (token bytes streamed straight into the
    * digest with 0x20 separators, null tokens skipped exactly as
    * concat_ws skips them, fewer-than-n-token documents yield an empty
    * array). The composed chain materializes per window: an n-element
    * slice copy, the joined string, the 32-char hex, and the unhexed
    * binary — four allocations that dominate the span-dedup scan. */
  private[functions] case class WindowFingerprintsExpr(child: Expression, n: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    require(n >= 1, s"window length must be >= 1 token: $n")

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, _) =>
          TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.simpleString}")
      }
    }
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.BinaryType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "window_fingerprints_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    def compute(arr: ArrayData): ArrayData = {
      val m = arr.numElements()
      val total = m - n + 1
      if (total <= 0) return new GenericArrayData(Array.empty[Any])
      // snapshot the byte slices once: ArrayData string accessors may
      // reuse backing buffers across calls
      val bytes = new Array[Array[Byte]](m)
      var i = 0
      while (i < m) {
        bytes(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
        i += 1
      }
      val md = md5Digest.get()
      val out = new Array[Any](total)
      var p = 0
      while (p < total) {
        md.reset()
        var first = true
        var j = 0
        while (j < n) {
          val b = bytes(p + j)
          if (b != null) { // concat_ws skips nulls, separator included
            if (!first) md.update(0x20.toByte)
            md.update(b)
            first = false
          }
          j += 1
        }
        out(p) = md.digest()
        p += 1
      }
      new GenericArrayData(out)
    }

    override protected def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("windowFingerprintsExpr", this)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }
  }

  /** md5 fingerprints of all sliding n-token windows, one native pass. */
  def windowFingerprints(tokens: Column, n: Int): Column =
    column(WindowFingerprintsExpr(expression(tokens), n))

  // ------------------------------------------------------------ SimHash64

  /** 64-bit SimHash bands of a token array in ONE pass — the native twin of
    * TextKernels.simhash64Sums+simhash64Bands, bit-identical including the
    * edges: a NULL token array, an empty array, or ANY null token all yield
    * [0,0,0,0] (in the composed chain a null poisons the whole accumulator
    * and `when(null > 0)` falls through to 0 for every bit). The composed
    * form allocates a 64-int array per token through interpreted
    * higher-order functions; this accumulates into one local int[64]. */
  private[functions] case class SimhashBandsExpr(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.util.GenericArrayData

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string> tokens, got ${other.simpleString}")
      }
    }
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "simhash_bands_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    def computeBands(input: ArrayData): ArrayData = {
      val sums = new Array[Int](64)
      var ok = input != null
      if (ok) {
        // distinct tokens, as array_distinct does in the composed chain
        val seen = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
        val n = input.numElements()
        var i = 0
        while (i < n && ok) {
          if (input.isNullAt(i)) ok = false
          else {
            val t = input.getUTF8String(i)
            if (seen.add(t.clone())) { // clone: the backing buffer may be reused
              // raw digest bytes: hex char `nib` of md5Hex is the high
              // (even nib) / low (odd nib) nibble of digest byte nib/2 —
              // no hex String round trip
              val d = md5Of(t.getBytes)
              var nib = 0
              while (nib < 16) {
                val b = d(nib >> 1) & 0xff
                val v = if ((nib & 1) == 0) b >>> 4 else b & 0xf
                var k = 0
                while (k < 4) {
                  sums(nib * 4 + k) += (((v >> k) & 1) << 1) - 1
                  k += 1
                }
                nib += 1
              }
            }
          }
          i += 1
        }
      }
      if (!ok) java.util.Arrays.fill(sums, 0)
      val out = new Array[Any](4)
      var b = 0
      while (b < 4) {
        var band = 0
        var j = 0
        while (j < 16) {
          if (sums(b * 16 + j) > 0) band |= 1 << j
          j += 1
        }
        out(b) = band
        b += 1
      }
      new GenericArrayData(out)
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      computeBands(child.eval(input).asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val ref = ctx.addReferenceObj("simhashBandsExpr", this)
      val childGen = child.genCode(ctx)
      val arrCls = classOf[ArrayData].getName
      ev.copy(
        code = code"""
          ${childGen.code}
          $arrCls ${ev.value} = ($arrCls) $ref.computeBands(
            ${childGen.isNull} ? null : ${childGen.value});
        """,
        isNull = FalseLiteral)
    }
  }

  /** One-pass 64-bit SimHash bands (4 x 16-bit ints) over a token array. */
  def simhashBands(tokens: Column): Column =
    column(SimhashBandsExpr(expression(tokens)))

  /** The composed 64-bit SimHash fingerprint in ONE expression — band i =
    * bits [16i, 16i+16), identical to OR-shifting [[simhashBands]]'s four
    * elements. The composed element_at x 4 form repeats the whole
    * per-token hashing child once per band in the filter AND the
    * projection wherever common-subexpression elimination does not reach
    * (the pushed-down not-zero guard); one scalar expression makes the
    * kernel cost appear exactly once per row. */
  private[functions] case class Simhash64Expr(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string> tokens, got ${other.simpleString}")
      }
    }
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def nullable: Boolean = false
    override def prettyName: String = "simhash64_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
    private val bands = SimhashBandsExpr(child)
    def compute(input: ArrayData): Long = {
      val arr = bands.computeBands(input)
      var fp = 0L
      var b = 0
      while (b < 4) {
        fp |= (arr.getInt(b).toLong & 0xffffL) << (b * 16)
        b += 1
      }
      fp
    }
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      compute(child.eval(input).asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val ref = ctx.addReferenceObj("simhash64Expr", this)
      val childGen = child.genCode(ctx)
      ev.copy(
        code = code"""
          ${childGen.code}
          long ${ev.value} = $ref.compute(
            ${childGen.isNull} ? null : ${childGen.value});
        """,
        isNull = FalseLiteral)
    }
  }

  /** Composed 64-bit SimHash fingerprint (see [[Simhash64Expr]]). */
  def simhash64(tokens: Column): Column =
    column(Simhash64Expr(expression(tokens)))

  // --------------------------------------------------- IVF centroid argmin

  /** Index of the nearest centroid (L2, ties to the lowest index) with the
    * whole centroid matrix held as ONE reference object — the large-k twin
    * of the composed formulation in [[graft.operators.AnnSearch.ivfCluster]]
    * history: inlining k×dim literal nodes made the codegen'd projection
    * grow to hundreds of thousands of AST nodes at production k (O(√N)
    * centroids), risking Janino method-size limits. Here the generated code
    * is ONE kernel call regardless of k; the JIT'd loop reads a flat
    * double[]. Bit-identical to the composed expression: per-centroid
    * distance is sqrt of the left-to-right sum of squared diffs (same
    * accumulation order as [[SimKernels.l2Dist]]), compared as sqrt values
    * with first-index-wins ties (array_position semantics). Dimensions are
    * compared up to the shorter of (vector, centroid). */
  private[functions] case class NearestCentroidExpr(child: Expression,
      centroids: Seq[Seq[Double]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    require(centroids.nonEmpty, "nearest_centroid needs at least one centroid")

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<double>, got ${other.simpleString}")
      }
    }
    override def dataType: DataType = org.apache.spark.sql.types.IntegerType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "nearest_centroid_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    @transient private lazy val k = centroids.size
    @transient private lazy val dim = centroids.head.size
    @transient private lazy val flat: Array[Double] = {
      val a = new Array[Double](k * dim)
      var c = 0
      while (c < k) {
        require(centroids(c).size == dim,
          s"centroid $c has dim ${centroids(c).size}, expected $dim")
        var i = 0
        while (i < dim) { a(c * dim + i) = centroids(c)(i); i += 1 }
        c += 1
      }
      a
    }

    def nearest(v: ArrayData): Int = {
      val n = math.min(v.numElements(), dim)
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        val off = c * dim
        var s = 0.0
        var i = 0
        while (i < n) { val d = v.getDouble(i) - flat(off + i); s += d * d; i += 1 }
        val dist = math.sqrt(s)
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      best
    }

    override protected def nullSafeEval(v: Any): Any =
      nearest(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // one call into this expression's compiled kernel — stays inside
      // whole-stage codegen with constant generated-code size in k
      val ref = ctx.addReferenceObj("nearestCentroidExpr", this)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.nearest($c);")
    }
  }

  /** Nearest-centroid index (int) of an array<double> column; `centroids`
    * ships as one reference object, so generated-code size is independent
    * of k. */
  def nearestCentroid(vec: Column, centroids: Seq[Seq[Double]]): Column =
    column(NearestCentroidExpr(expression(vec), centroids))

  // ------------------------------------------------------ product quantization

  /** PQ encode (Jégou et al., TPAMI 2011): the vector's m subspace slices
    * each mapped to the index of their nearest codeword — array<double> ->
    * array<int> of length m. Per-subspace assignment is the exact
    * [[NearestCentroidExpr]] arithmetic (sequential squared-diff sum, sqrt,
    * first-index-wins ties) over dims [s*dsub, (s+1)*dsub); a vector
    * shorter than the subspace compares over its available dims. The
    * codebooks ship as ONE flat reference array, so generated-code size is
    * independent of m × nCodes × dsub. */
  private[functions] case class PqEncodeExpr(child: Expression,
      codebooks: Seq[Seq[Seq[Double]]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    require(codebooks.nonEmpty, "pq_encode needs at least one codebook")

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<double>, got ${other.simpleString}")
      }
    }
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "pq_encode_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    @transient private lazy val m = codebooks.size
    @transient private lazy val nCodes = codebooks.head.size
    @transient private lazy val dsub = codebooks.head.head.size
    @transient private lazy val flat: Array[Double] = {
      val a = new Array[Double](m * nCodes * dsub)
      var s = 0
      while (s < m) {
        require(codebooks(s).size == nCodes,
          s"codebook $s has ${codebooks(s).size} codewords, expected $nCodes")
        var c = 0
        while (c < nCodes) {
          require(codebooks(s)(c).size == dsub,
            s"codeword ($s,$c) has dim ${codebooks(s)(c).size}, expected $dsub")
          var i = 0
          while (i < dsub) {
            a((s * nCodes + c) * dsub + i) = codebooks(s)(c)(i); i += 1
          }
          c += 1
        }
        s += 1
      }
      a
    }

    def encode(v: ArrayData): ArrayData = {
      val len = v.numElements()
      val codes = new Array[Int](m)
      var s = 0
      while (s < m) {
        val vOff = s * dsub
        val n = math.max(0, math.min(dsub, len - vOff))
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < nCodes) {
          val cOff = (s * nCodes + c) * dsub
          var sum = 0.0
          var i = 0
          while (i < n) {
            val d = v.getDouble(vOff + i) - flat(cOff + i); sum += d * d; i += 1
          }
          val dist = math.sqrt(sum)
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        codes(s) = best
        s += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
    }

    override protected def nullSafeEval(v: Any): Any =
      encode(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqEncodeExpr", this)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encode($c);")
    }
  }

  /** PQ codes (array<int> of m sub-codes) for an array<double> column. */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    column(PqEncodeExpr(expression(vec), codebooks))

  // ------------------------------------------------- random projection (JL)

  /** Johnson–Lindenstrauss random projection: array<double> (inDim) ->
    * array<double> (outDim), y_j = (Σ_i signs(j)(i)·x_i) / sqrt(outDim) —
    * the dense ±1 construction of Achlioptas (JCSS 2003), which preserves
    * pairwise L2 distances within (1±ε) at outDim = O(ε⁻²·ln n) and needs
    * no Gaussian sampling. The sign matrix ships as ONE flat reference
    * object (the [[NearestCentroidExpr]] discipline), so generated-code
    * size is independent of outDim × inDim; per output dim the inner sum
    * runs left-to-right over ascending i, ±1 multiplication is IEEE-exact,
    * and the final division by the correctly-rounded sqrt is one rounding
    * step — any engine replaying the same signs lands within the usual
    * summation-order ulp spread. Vectors shorter than inDim sum over their
    * available dims (missing tail = 0); longer vectors ignore the tail. */
  private[functions] case class RandomProjectExpr(child: Expression,
      signs: Seq[Seq[Int]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    require(signs.nonEmpty, "random_project needs at least one output dim")
    require(signs.forall(r => r.forall(s => s == 1 || s == -1)),
      "random_project signs must be +1/-1")

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<double>, got ${other.simpleString}")
      }
    }
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "random_project_native"
    // the sign matrix is part of this case class, so the default tree
    // string would inline k×inDim literals into every plan description —
    // megabytes of plan-event payload at production 64×1024; print the
    // shape instead
    override def toString: String =
      s"$prettyName($child, ${signs.size}x${signs.head.size})"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    @transient private lazy val k = signs.size
    @transient private lazy val inDim = signs.head.size
    @transient private lazy val sqrtK = math.sqrt(k.toDouble)
    @transient private lazy val flat: Array[Double] = {
      val a = new Array[Double](k * inDim)
      var j = 0
      while (j < k) {
        require(signs(j).size == inDim,
          s"sign row $j has dim ${signs(j).size}, expected $inDim")
        var i = 0
        while (i < inDim) { a(j * inDim + i) = signs(j)(i).toDouble; i += 1 }
        j += 1
      }
      a
    }

    def project(v: ArrayData): ArrayData = {
      val n = math.min(v.numElements(), inDim)
      val y = new Array[Double](k)
      var j = 0
      while (j < k) {
        val off = j * inDim
        var s = 0.0
        var i = 0
        while (i < n) { s += flat(off + i) * v.getDouble(i); i += 1 }
        y(j) = s / sqrtK
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(y)
    }

    override protected def nullSafeEval(v: Any): Any =
      project(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("randomProjectExpr", this)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.project($c);")
    }
  }

  /** JL-projected array<double> (length = signs.size) of an array<double>
    * column; build `signs` with [[graft.operators.Embeddings.projectionSigns]]
    * for the engine-portable md5-derived matrix. */
  def randomProject(vec: Column, signs: Seq[Seq[Int]]): Column =
    column(RandomProjectExpr(expression(vec), signs))

  /** ADC (asymmetric distance computation): the PQ-approximated L2 distance
    * of an ENCODED vector to the query — sqrt of the sum over subspaces of
    * the query-to-codeword SQUARED sub-distances, read from the
    * per-(subspace, code) lookup table the caller precomputed from the
    * query. One table read per subspace per row — the reason PQ probes
    * scan billions of 8–16 byte codes instead of KB-sized float vectors.
    * A codes array shorter than the table sums its available subspaces;
    * an out-of-range code is a corrupt input and throws. */
  private[functions] case class PqAdcExpr(child: Expression, lut: Seq[Seq[Double]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    require(lut.nonEmpty, "pq_adc needs a non-empty lookup table")

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<int>, got ${other.simpleString}")
      }
    }
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "pq_adc_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    @transient private lazy val m = lut.size
    @transient private lazy val nCodes = lut.head.size
    @transient private lazy val flat: Array[Double] = {
      val a = new Array[Double](m * nCodes)
      var s = 0
      while (s < m) {
        require(lut(s).size == nCodes,
          s"LUT row $s has ${lut(s).size} entries, expected $nCodes")
        var c = 0
        while (c < nCodes) { a(s * nCodes + c) = lut(s)(c); c += 1 }
        s += 1
      }
      a
    }

    def dist(codes: ArrayData): Double = {
      val n = math.min(codes.numElements(), m)
      var sum = 0.0
      var s = 0
      while (s < n) {
        val c = codes.getInt(s)
        if (c < 0 || c >= nCodes) throw new IllegalArgumentException(
          s"pq_adc: code $c at subspace $s out of [0, $nCodes)")
        sum += flat(s * nCodes + c)
        s += 1
      }
      math.sqrt(sum)
    }

    override protected def nullSafeEval(v: Any): Any =
      dist(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqAdcExpr", this)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.dist($c);")
    }
  }

  /** ADC distance of a PQ-codes column against a per-(subspace, code)
    * squared-sub-distance lookup table. */
  def pqAdcDist(codes: Column, lut: Seq[Seq[Double]]): Column =
    column(PqAdcExpr(expression(codes), lut))

  // ------------------------------------------------------- compression ratio

  /** Deflate-compressed size over raw UTF-8 size — the classic
    * compression-based text-quality signal (templated/repetitive documents
    * compress far better than natural prose; extremely low ratios flag
    * boilerplate, extremely high ones flag random noise). Level 6,
    * JDK Deflater (pure-JVM zlib) — deterministic across JVMs. NULL input
    * -> NULL; empty string -> ratio over the 8-byte deflate header
    * (finite, deterministic). */
  private[functions] case class CompressRatioExpr(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string, got ${other.simpleString}")
      }
    }
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "compress_ratio_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    // one Deflater (native zlib stream) and scratch buffer per task thread,
    // reset per row — allocating/ending a native stream per row would
    // dominate the actual deflate cost for short documents
    @transient private lazy val local =
      ThreadLocal.withInitial[(java.util.zip.Deflater, Array[Byte])](() =>
        (new java.util.zip.Deflater(6), new Array[Byte](8192)))

    def ratio(s: org.apache.spark.unsafe.types.UTF8String): Double = {
      val raw = s.getBytes
      val (d, buf) = local.get()
      d.reset()
      d.setInput(raw); d.finish()
      var compressed = 0L
      while (!d.finished()) compressed += d.deflate(buf)
      compressed.toDouble / math.max(raw.length, 1)
    }

    override protected def nullSafeEval(v: Any): Any =
      ratio(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("compressRatioExpr", this)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.ratio($c);")
    }
  }

  /** Deflate compression ratio of a string column. */
  def compressRatio(s: Column): Column = column(CompressRatioExpr(expression(s)))

  // ------------------------------------------------------ bloom membership

  /** Membership probe against a BROADCAST Bloom filter — the prefilter that
    * lets an ingestion batch skip the stored-index join entirely when the
    * batch is novel ([[graft.operators.Dedup.incrementalExactBloom]]). The
    * filter rides a `Broadcast` handle, not the expression tree: tasks
    * fetch the (potentially GB-scale at 100 TB corpus size) bit array once
    * per executor over the torrent protocol instead of shipping it inside
    * every serialized task. Codegen'd like the other native kernels; the
    * UTF-8 probe bytes match `BloomFilter.putString`'s encoding, so a
    * filter built over a string column with `put`/`putString` answers
    * consistently (false positives possible by construction, false
    * negatives never). NULL input -> NULL. */
  private[functions] case class BloomMightContainExpr(child: Expression,
      bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string, got ${other.simpleString}")
      }
    }
    override def dataType: DataType = org.apache.spark.sql.types.BooleanType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "bloom_might_contain_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    def hit(s: org.apache.spark.unsafe.types.UTF8String): Boolean =
      bloom.value.mightContainBinary(s.getBytes)

    override protected def nullSafeEval(v: Any): Any =
      hit(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomMightContainExpr", this)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.hit($c);")
    }
  }

  /** `true` when `s` MIGHT be in the broadcast Bloom filter (false
    * positives possible, false negatives never). */
  def bloomMightContain(s: Column,
      bf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
      : Column = column(BloomMightContainExpr(expression(s), bf))

  // --------------------------------------------------------- winnow select

  /** Phase 2 of MOSS winnowing in ONE pass — the native twin of
    * [[TextKernels.winnowSelect]]/[[TextKernels.winnowSelectPos]],
    * bit-identical (NativeKernelSpec property-checks both). The composed
    * column form evaluates `array_min(slice(hv, i, w))` (and, with
    * positions, the slice twice more for `array_position`) per window —
    * O(n*w) array work per document; this is the classic monotonic-deque
    * sliding-window minimum, O(n) with one int deque, keeping the
    * LEFTMOST index among tied minima (a later equal value never evicts
    * an earlier one), exactly `array_position`'s first-match semantics.
    * Output order and dedup follow `array_distinct`: first occurrence
    * wins. NULL input yields NULL and an empty array yields an empty
    * array, exactly like the composed chain (`size(null)` is null, so its
    * `when` guard falls through to a null transform). */
  private[functions] case class WinnowSelectExpr(child: Expression, w: Int,
      withPos: Boolean)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.util.GenericArrayData

    require(w >= 1, s"window must be >= 1, got $w")

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint> hashes, got ${other.simpleString}")
      }
    }
    override def dataType: DataType =
      if (withPos) org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("pos",
            org.apache.spark.sql.types.IntegerType, nullable = false))),
        containsNull = false)
      else org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String =
      if (withPos) "winnow_select_pos_native" else "winnow_select_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    def computeSelect(input: ArrayData): ArrayData = {
      val n = input.numElements()
      if (n < 1) return new GenericArrayData(Array.empty[Any])
      winnowSelectFrom(input.toLongArray(), w, withPos)
    }

    override protected def nullSafeEval(v: Any): Any =
      computeSelect(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("winnowSelectExpr", this)
      val arrCls = classOf[ArrayData].getName
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($arrCls) $ref.computeSelect($c);")
    }
  }

  /** Shared winnowing selection core (monotonic deque over the hash
    * array): deduplicated per-window minima, with or without 1-based
    * k-gram positions. Extracted so the fused text->fingerprints kernel
    * below runs the identical selection on its freshly hashed array. */
  private def winnowSelectFrom(h: Array[Long], w: Int, withPos: Boolean)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val n = h.length
    if (n < 1) return new GenericArrayData(Array.empty[Any])
    val nWin = math.max(n - (w - 1), 1)
    val deque = new Array[Int](n)
    var head = 0; var tail = 0
    var j = 0
    // dedup on the selected INDEX: within one document a position
    // determines its hash, so (fp, pos) dedup == pos dedup, and the
    // plain-fp variant dedups on the value itself
    val seenPos = new java.util.HashSet[Integer]()
    val seenFp = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](nWin)
    var win = 0
    while (win < nWin) {
      val end = math.min(win + w - 1, n - 1)
      while (j <= end) {
        // STRICT pop: an equal later value never evicts an earlier one,
        // so the front stays the leftmost minimum of the window
        while (tail > head && h(deque(tail - 1)) > h(j)) tail -= 1
        deque(tail) = j; tail += 1
        j += 1
      }
      while (deque(head) < win) head += 1
      val m = deque(head)
      if (withPos) {
        if (seenPos.add(m)) out += new org.apache.spark.sql.catalyst
          .expressions.GenericInternalRow(Array[Any](h(m), m + 1))
      } else {
        if (seenFp.add(h(m))) out += (h(m): java.lang.Long)
      }
      win += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Fused text -> winnowing fingerprints in ONE native pass: the md5
    * k-gram hashing ([[TextKernels.winnowHashes]]) and the deque window
    * selection ([[WinnowSelectExpr]]) without materializing the
    * per-gram hash array as a column between two projections. Hash
    * semantics are bit-identical to the composed chain: the hash of gram
    * i is the first 12 hex chars of md5 of the UTF-8 bytes of the k-CHAR
    * substring at 1-based char position i, read as a 48-bit integer —
    * here taken directly as the first 6 digest bytes, skipping the
    * hex-string round trip, `conv`, and the per-gram UTF8String substring
    * copies the interpreted higher-order `transform` chain pays (plus its
    * per-element closure dispatch). NULL text -> NULL; shorter than k ->
    * empty array (the composed chain's `when` guard). */
  private[functions] case class WinnowFingerprintsExpr(child: Expression,
      k: Int, w: Int, withPos: Boolean)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.util.GenericArrayData

    require(k >= 1, s"gram length must be >= 1, got $k")
    require(w >= 1, s"window must be >= 1, got $w")

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string text, got ${other.simpleString}")
      }
    }
    override def dataType: DataType =
      if (withPos) org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("pos",
            org.apache.spark.sql.types.IntegerType, nullable = false))),
        containsNull = false)
      else org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String =
      if (withPos) "winnow_fingerprints_pos_native" else "winnow_fingerprints_native"
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)

    // one digest instance per thread (MessageDigest is stateful and not
    // thread-safe; expression objects are shared across a stage's tasks)
    @transient private lazy val mdLocal =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }

    def computeFingerprints(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val bytes = s.getBytes
      val nChars = s.numChars()
      val nGrams = nChars - (k - 1)
      if (nGrams < 1) return new GenericArrayData(Array.empty[Any])
      // char -> byte offset table (UTF-8 boundaries), one walk
      val off = new Array[Int](nChars + 1)
      var c = 0; var b = 0
      while (c < nChars) {
        off(c) = b
        b += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(bytes(b))
        c += 1
      }
      off(nChars) = bytes.length
      val md = mdLocal.get()
      val h = new Array[Long](nGrams)
      var i = 0
      while (i < nGrams) {
        md.update(bytes, off(i), off(i + k) - off(i))
        val d = md.digest() // returns the digest and resets the instance
        // first 12 hex chars of md5 == first 6 digest bytes, big-endian
        h(i) = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
          ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
          ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
        i += 1
      }
      winnowSelectFrom(h, w, withPos)
    }

    override protected def nullSafeEval(v: Any): Any =
      computeFingerprints(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("winnowFpExpr", this)
      val arrCls = classOf[ArrayData].getName
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($arrCls) $ref.computeFingerprints($c);")
    }
  }

  /** Fused one-pass text -> deduplicated winnowing fingerprint minima
    * (bit-identical to winnowHashes -> winnowSelect, NativeKernelSpec). */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    column(WinnowFingerprintsExpr(expression(text), k, w, withPos = false))

  /** Fused positional variant: array<struct<fp,pos>> — bit-identical to
    * winnowHashes -> winnowSelectPos. */
  def winnowFingerprintsPos(text: Column, k: Int, w: Int): Column =
    column(WinnowFingerprintsExpr(expression(text), k, w, withPos = true))

  /** One-pass winnowing selection (deduplicated window minima) of a
    * materialized hash-array column. */
  def winnowSelect(hashes: Column, w: Int): Column =
    column(WinnowSelectExpr(expression(hashes), w, withPos = false))

  /** One-pass winnowing selection keeping positions:
    * array<struct<fp,pos>> — see [[TextKernels.winnowSelectPos]]. */
  def winnowSelectPos(hashes: Column, w: Int): Column =
    column(WinnowSelectExpr(expression(hashes), w, withPos = true))

  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private def binary(name: String, f: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(NativeKernels.getClass.getCanonicalName, name),
      args => {
        require(args.length == 2, s"$name takes exactly 2 arguments, got ${args.length}")
        f(args(0), args(1))
      })

  /** graft_hash_pct(id): the portable md5 hash bucket in [0, 100) the
    * deterministic sampling operators key on ([[graft.operators.Sampling]]),
    * composed from built-in codegen'd expressions (the analyzer applies the
    * same string->binary coercion the Column API gets). */
  private def hashPctExpr(id: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Literal, Md5, Pmod, Substring}
    import org.apache.spark.sql.types.{LongType, StringType}
    Pmod(Cast(Conv(Substring(Md5(Cast(Cast(id, StringType),
      org.apache.spark.sql.types.BinaryType)), Literal(1), Literal(6)),
      Literal(16), Literal(10)), LongType), Literal(100L))
  }

  /** graft_fingerprint(text): md5 of the canonical normalization
    * (TextKernels.fingerprint), composed from built-in codegen'd
    * expressions. */
  private def fingerprintExpr(s: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Lower, Md5, RegExpReplace, StringTrim}
    import org.apache.spark.sql.types.BinaryType
    Md5(Cast(new StringTrim(RegExpReplace(Lower(s),
      Literal("[^a-z0-9]+"), Literal(" "))), BinaryType))
  }

  /** Foldable-int extraction for literal SQL arguments. */
  private def litInt(name: String, e: Expression): Int = {
    require(e.foldable, s"$name expects a literal integer argument")
    e.eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$name expects an integer literal, got $other")
    }
  }

  /** SQL-facing descriptors for [[graft.GraftExtensions]]: each native
    * kernel as a `graft_*` function callable from `spark.sql`. */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      binary("graft_cosine_sim", CosineSimExpr.apply),
      binary("graft_l2_dist", L2DistExpr.apply),
      binary("graft_l1_dist", L1DistExpr.apply),
      (FunctionIdentifier("graft_hash_pct"),
        new ExpressionInfo(NativeKernels.getClass.getCanonicalName, "graft_hash_pct"),
        args => {
          require(args.length == 1, s"graft_hash_pct takes exactly 1 argument, got ${args.length}")
          hashPctExpr(args(0))
        }),
      (FunctionIdentifier("graft_band_keys"),
        new ExpressionInfo(NativeKernels.getClass.getCanonicalName, "graft_band_keys"),
        args => {
          require(args.length == 4,
            s"graft_band_keys(shingles, numHashes, numBands, rowsPerBand) takes 4 arguments, got ${args.length}")
          BandKeysExpr(args(0), litInt("graft_band_keys", args(1)),
            litInt("graft_band_keys", args(2)), litInt("graft_band_keys", args(3)))
        }),
      (FunctionIdentifier("graft_simhash_bands"),
        new ExpressionInfo(NativeKernels.getClass.getCanonicalName, "graft_simhash_bands"),
        args => {
          require(args.length == 1,
            s"graft_simhash_bands takes exactly 1 argument, got ${args.length}")
          SimhashBandsExpr(args(0))
        }),
      (FunctionIdentifier("graft_fingerprint"),
        new ExpressionInfo(NativeKernels.getClass.getCanonicalName, "graft_fingerprint"),
        args => {
          require(args.length == 1,
            s"graft_fingerprint takes exactly 1 argument, got ${args.length}")
          fingerprintExpr(args(0))
        }),
      (FunctionIdentifier("graft_compress_ratio"),
        new ExpressionInfo(NativeKernels.getClass.getCanonicalName, "graft_compress_ratio"),
        args => {
          require(args.length == 1,
            s"graft_compress_ratio takes exactly 1 argument, got ${args.length}")
          CompressRatioExpr(args(0))
        }))
}
