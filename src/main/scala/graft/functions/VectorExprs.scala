package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array, call_function, col, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst vector expressions for the similarity operators.
  *
  * Why custom expressions (SURVEY §ops preference (b)): a 64-dim dot
  * product written as 64 unrolled `v[0]*w0 + …` terms codegens one
  * local per term — stack a few planes into one projection and the
  * generated class blows past Janino/JIT limits (observed: compile
  * failure → whole-stage interpreted fallback → 18× slowdown). These
  * expressions emit a constant-size LOOP instead: tiny generated code,
  * JIT-friendly, same left-to-right IEEE accumulation as the unrolled
  * form and as the DuckDB oracle rendering, at any dimension.
  *
  * Element nulls are not handled (inputs are dense numeric vectors);
  * a null array yields null via the null-safe wrappers.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  // inputs are produced internally as array<double>; no public surface
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Dot product against a constant weight vector (e.g. an LSH
  * hyperplane). Weights ship as a referenced double[] — one object
  * reference in the generated class, not thousands of literals. */
case class DotLiteral(child: Expression, weights: Seq[Double])
  extends UnaryExpression {

  private lazy val w: Array[Double] = weights.toArray

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_literal"
  override def toString: String = s"dot_literal($child, dim=${weights.length})"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), w.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * w(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("weights", w, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $wRef.length);
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $wRef[$i];
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): DotLiteral =
    copy(child = newChild)
}

/** All LSH band keys of a vector in ONE pass: band b's key is the
  * sign-bit string of planes [b·maxBits, b·maxBits + bitsPerBand) of
  * the flattened plane matrix. One tight JVM loop per row replaces
  * bands×bits separate projection columns — a fused 88-column
  * projection (C5 at a corpus-derived band width) generates code past
  * the JIT method-size limit and materializes at interpreted speed
  * (measured 12 s for 50k rows; this expression: <0.5 s). Generated
  * code delegates to [[nullSafeEval]] via a reference object: the
  * loop is real compiled JVM code either way, and keeping it out of
  * the generated class is the point. */
case class HyperplaneBandKeys(child: Expression, flat: Seq[Double],
    bands: Int, bitsPerBand: Int, maxBits: Int) extends UnaryExpression {

  private lazy val w: Array[Double] = flat.toArray
  private lazy val rowLen: Int = w.length / (bands * maxBits)

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "hyperplane_band_keys"
  override def toString: String =
    s"hyperplane_band_keys($child, bands=$bands, bits=$bitsPerBand)"

  override def nullSafeEval(a: Any): Any = compute(a)

  /** Public (the generated code calls it through a reference object —
    * protected nullSafeEval is not visible from the generated class). */
  def compute(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val out = new Array[Any](bands)
    val key = new Array[Char](bitsPerBand)
    var b = 0
    while (b < bands) {
      var r = 0
      while (r < bitsPerBand) {
        val base = (b * maxBits + r) * rowLen
        val n = math.min(x.numElements(), rowLen)
        var s = 0.0
        var i = 0
        while (i < n) { s += x.getDouble(i) * w(base + i); i += 1 }
        key(r) = if (s >= 0) '1' else '0'
        r += 1
      }
      out(b) = org.apache.spark.unsafe.types.UTF8String
        .fromString(new String(key))
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandKeysExpr", this,
      classOf[HyperplaneBandKeys].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)" +
        s" $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBandKeys =
    copy(child = newChild)
}

/** C17 quantization in ONE pass: struct(codes string, max_err double).
  * codes = the comma-joined `floor((v[i] − zero)/scale)` longs (the
  * canonical wire string the digest covers); max_err = the max abs
  * reconstruction error. The unrolled 64-column form generated a
  * 20,382-bytecode consume method — over HotSpot's 8000-bytecode JIT
  * ceiling, so the whole fused stage ran INTERPRETED (the r11 saga's
  * exact failure mode, caught by the JitCeilingSpec lint); this emits
  * one loop through a reference object. Identical IEEE sequence per
  * element as the unrolled form and the DuckDB oracle: the division is
  * by a power of two (exact), floor is deterministic, and Long
  * rendering matches CAST(BIGINT AS VARCHAR). NaN reconstruction
  * errors propagate into max_err (math.max — the greatest() semantics
  * of the replaced column form). PRECONDITION: array elements are
  * non-null (the embeddings schema guarantees it); a null element
  * reads as 0.0 here where concat_ws skipped it — don't point this at
  * nullable-element arrays. */
case class QuantizeVector(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("codes",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("max_err", DoubleType,
      nullable = false)))
  override def prettyName: String = "quantize_vector"

  override def nullSafeEval(v: Any, mn: Any, scale: Any): Any =
    compute(v, mn, scale)

  /** Public (generated code calls through a reference object). */
  def compute(v: Any, mnAny: Any, scAny: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val mn = mnAny.asInstanceOf[Double]
    val sc = scAny.asInstanceOf[Double]
    val n = x.numElements()
    val sb = new java.lang.StringBuilder(n * 4)
    var maxErr = 0.0 // errors are abs() — 0 is the identity, as greatest() was
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val code = math.floor((xi - mn) / sc).toLong
      if (i > 0) sb.append(',')
      sb.append(code)
      val err = math.abs(xi - (mn + code * sc))
      maxErr = math.max(maxErr, err) // NaN propagates, as greatest() did
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString), maxErr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("quantizeExpr", this,
      classOf[QuantizeVector].getName)
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow)" +
        s" $ref.compute($a, $b, $c);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): QuantizeVector =
    copy(first = f, second = s, third = t)
}

/** Distinct-intersection size of two SORTED string arrays — a
  * zero-allocation merge replacing `size(array_intersect(a, b))` in the
  * quadratic truth joins. The builtin evaluates interpreted for string
  * elements (SQLOpenHashSet + boxed per-element getters through
  * `SpecializedGettersReader`/`PhysicalDataType`); the r16 thread dumps
  * caught all 32 task threads inside that path with throughput
  * COLLAPSING as cores grew (32c ran 7-30x slower than 8c on identical
  * data — lock/allocation contention, not GC: 3.4 s of GC in a 42 s
  * run). This merge does one linear pass of UTF8String byte compares
  * per pair: no hash set, no boxing, embarrassingly parallel.
  *
  * PRECONDITIONS: both arrays sorted ascending in UTF8String order
  * (`sort_array` default) with no null elements. Duplicates are
  * skipped, so the count equals `size(array_intersect(a, b))` (which
  * dedupes) even on non-distinct inputs. The merge compares raw bytes,
  * so analysis rejects any element collation but UTF8_BINARY (a
  * case- or trim-insensitive collation would miscount), and a null
  * element fails the task with an IllegalArgumentException. */
case class SortedIntersectSize(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override def checkInputDataTypes(): TypeCheckResult =
    children.map(_.dataType).find {
      case ArrayType(st: StringType, _) => st != StringType // the default is UTF8_BINARY
      case _ => true
    } match {
      case Some(t) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two array<string> arguments with UTF8_BINARY " +
          s"collation (it merges by raw bytes), got ${t.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  private def at(a: ArrayData, i: Int): UTF8String = {
    val s = a.getUTF8String(i)
    if (s == null) throw new IllegalArgumentException(
      s"$prettyName: array element $i is null (the arrays must hold no nulls)")
    s
  }

  override def nullSafeEval(a: Any, b: Any): Any = compute(a, b)

  /** Public (generated code calls through a reference object). */
  def compute(a: Any, b: Any): Int = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var cnt = 0
    // binaryCompare, NOT compareTo: Spark 4's compareTo re-reads the
    // SPARK_TESTING env var on EVERY call (a guard that throws under
    // testing) — one System.getenv + String.encode per comparison,
    // caught live in the r16 thread dumps.
    while (i < n && j < m) {
      val xi = at(x, i)
      val c = xi.binaryCompare(at(y, j))
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else {
        cnt += 1
        // skip duplicate runs on both sides so the count is DISTINCT
        i += 1
        while (i < n && at(x, i).binaryCompare(xi) == 0) i += 1
        j += 1
        while (j < m && at(y, j).binaryCompare(xi) == 0) j += 1
      }
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedIntersectExpr", this,
      classOf[SortedIntersectSize].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** Registration + Column-level entry points. The expressions register
  * through `SparkSessionExtensions.injectFunction` (the supported
  * public extension route — see GraftSession, which installs them on
  * every session this library builds). */
object VectorExprs {

  /** Install graft's native functions into a session builder's
    * extensions. */
  def register(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot_product"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_dot_literal"),
      new ExpressionInfo(classOf[DotLiteral].getName, "graft_dot_literal"),
      (children: Seq[Expression]) => {
        // second arg: a foldable array<double> of plane weights,
        // evaluated once at plan-build time
        val arr = children(1).eval(null).asInstanceOf[ArrayData]
        DotLiteral(children(0), arr.toDoubleArray.toSeq)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_band_keys"),
      new ExpressionInfo(classOf[HyperplaneBandKeys].getName, "graft_band_keys"),
      (children: Seq[Expression]) => {
        val flat = children(1).eval(null).asInstanceOf[ArrayData]
          .toDoubleArray.toSeq
        def intArg(i: Int) = children(i).eval(null).asInstanceOf[Int]
        HyperplaneBandKeys(children(0), flat, intArg(2), intArg(3), intArg(4))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_quantize"),
      new ExpressionInfo(classOf[QuantizeVector].getName, "graft_quantize"),
      (children: Seq[Expression]) =>
        QuantizeVector(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimhashValue].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimhashValue(children(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_bands"),
      new ExpressionInfo(classOf[MinhashBandKeys].getName, "graft_minhash_bands"),
      (children: Seq[Expression]) => {
        def intArg(i: Int) = children(i).eval(null).asInstanceOf[Int]
        MinhashBandKeys(children(0), intArg(1), intArg(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_word_ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "graft_word_ngrams"),
      (children: Seq[Expression]) => {
        val n = children(1).eval(null).asInstanceOf[Int]
        WordNGrams(children(0), n)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_word_ngrams_all"),
      new ExpressionInfo(classOf[WordNGrams].getName, "graft_word_ngrams_all"),
      (children: Seq[Expression]) => {
        val n = children(1).eval(null).asInstanceOf[Int]
        WordNGrams(children(0), n, distinct = false)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName,
        "graft_sorted_intersect_size"),
      (children: Seq[Expression]) =>
        SortedIntersectSize(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_count_in"),
      new ExpressionInfo(classOf[CountTokensIn].getName, "graft_count_in"),
      (children: Seq[Expression]) => {
        val arr = children(1).eval(null).asInstanceOf[ArrayData]
        val words = (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
        CountTokensIn(children(0), words)
      }))
  }

  /** Column-level dot product of two array&lt;double&gt; columns. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot_product", a, b)

  /** Column-level dot product against constant weights. */
  def dotLit(v: Column, weights: Seq[Double]): Column =
    call_function("graft_dot_literal", v, array(weights.map(w => lit(w)): _*))

  def dot(a: String, b: String): Column = dot(col(a), col(b))
  def dotLit(v: String, weights: Seq[Double]): Column = dotLit(col(v), weights)

  /** All band keys of `v` against a plane matrix laid out on the fixed
    * (bands × maxBits) grid — band b uses rows [b·maxBits,
    * b·maxBits + bitsPerBand). Returns array&lt;string&gt; of length
    * `bands`. */
  def bandKeys(v: Column, planes: Array[Array[Double]], bands: Int,
               bitsPerBand: Int, maxBits: Int): Column =
    call_function("graft_band_keys", v,
      array(planes.flatten.map(w => lit(w)).toIndexedSeq: _*),
      lit(bands), lit(bitsPerBand), lit(maxBits))

  /** All C2 MinHash-LSH band keys of a gram array, row-locally —
    * array&lt;string&gt; of length `bands`. */
  def minhashBands(grams: Column, perms: Int, bands: Int): Column =
    call_function("graft_minhash_bands", grams, lit(perms), lit(bands))

  /** The 60-bit C3 SimHash of a gram array, row-locally. */
  def simhashOf(grams: Column): Column =
    call_function("graft_simhash", grams)

  /** Distinct-intersection size of two SORTED string arrays
    * (= `size(array_intersect(a, b))`, merge-evaluated). */
  def sortedIntersectSize(a: Column, b: Column): Column =
    call_function("graft_sorted_intersect_size", a, b)
}
