package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd vector kernels for the similarity-search operators.
  *
  * The `functions.aggregate(zip_with(...))` formulation (higher-order
  * functions) evaluates lambdas per element OUTSIDE whole-stage codegen —
  * fine for correctness, ~10× too slow for the O(pairs × dim) inner loop of
  * ANN scoring at scale. These expressions generate a tight primitive
  * `for` loop inside whole-stage codegen instead, with identical numerics:
  * floats widen to double, accumulation is a sequential left-fold, division
  * by a zero norm yields the same Inf/NaN the portable SQL produces.
  *
  * Both accept `array<float>` or `array<double>` input (parquet embeddings
  * are float; normalized intermediates are double).
  */
private[graft] trait VectorArrayAccess { self: Expression =>
  protected def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"expected array<float|double>, got $other")
  }
  /** Whether the array schema admits null elements — gates the per-element
    * null check so null-free arrays pay nothing for it. */
  protected def mayHaveNullElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }
  protected def getter(e: Expression, arr: String, i: String): String =
    if (elemIsFloat(e)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
  protected def get(e: Expression, arr: ArrayData, i: Int): Double =
    if (elemIsFloat(e)) arr.getFloat(i).toDouble else arr.getDouble(i)
}

/** `dot(a, b)` = Σ aᵢ·bᵢ over min(|a|,|b|) elements, in double.
  * A null ELEMENT nulls the whole result — exactly what the HOF
  * formulation does (null propagates through the fold), so a
  * partially-null embedding is excluded from ranking instead of scoring
  * with silent zeros. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with VectorArrayAccess {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if ((mayHaveNullElems(left) && x.isNullAt(i)) ||
        (mayHaveNullElems(right) && y.isNullAt(i))) return null
      s += get(left, x, i) * get(right, y, i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val nullCheck =
        if (mayHaveNullElems(left) || mayHaveNullElems(right))
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $s += (${getter(left, a, i)}) * (${getter(right, b, i)});
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `l2_normalize(v)` = v / ‖v‖₂ as `array<double>`; a zero vector maps to
  * NaNs exactly like the portable `x / sqrt(0)` SQL form. A null ELEMENT
  * nulls the whole result (the HOF form yields a useless all-null array
  * there; NULL is the honest columnar encoding — document feeds should
  * filter or impute first). */
case class L2Normalize(child: Expression)
    extends UnaryExpression with VectorArrayAccess {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) {
      if (mayHaveNullElems(child) && x.isNullAt(i)) return null
      val e = get(child, x, i)
      ss += e * e
      i += 1
    }
    val norm = math.sqrt(ss)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = get(child, x, i) / norm; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val ss = ctx.freshName("ss")
      val norm = ctx.freshName("norm")
      val res = ctx.freshName("res")
      val e = ctx.freshName("e")
      val nullCheck =
        if (mayHaveNullElems(child))
          s"if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $v.numElements();
         |double $ss = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  double $e = ${getter(child, v, i)};
         |  $ss += $e * $e;
         |}
         |if (!${ev.isNull}) {
         |  double $norm = java.lang.Math.sqrt($ss);
         |  double[] $res = new double[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $res[$i] = (${getter(child, v, i)}) / $norm;
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($res);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `int8_snap(v)`: the int8 symmetric quantize→dequantize round trip in
  * ONE codegen pass — `y_i = clamp(round(x_i·127/amax), ±127)·amax/127`
  * — for serving paths that dequantize immediately (ann_int8_topk). The
  * composable `dequantize(int8Codes(v), scale)` chain evaluates THREE
  * interpreted `transform` lambdas per row; this loop produced the same
  * doubles bit-for-bit (round is half-away-from-zero —
  * signum·floor(|t|+0.5) — matching Spark's and DuckDB's `round`)
  * at a fraction of the cost. A zero/empty amax
  * yields the all-zero vector (nothing to encode), null elements null
  * the row out like the other kernels. */
case class Int8Snap(child: Expression)
    extends UnaryExpression with VectorArrayAccess {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      if (mayHaveNullElems(child) && x.isNullAt(i)) return null
      val a = math.abs(get(child, x, i))
      if (a > amax) amax = a
      i += 1
    }
    val out = new Array[Double](n)
    if (amax > 0.0) {
      val scale = amax / 127.0
      i = 0
      while (i < n) {
        val t = get(child, x, i) * 127.0 / amax
        val r = math.signum(t) * math.floor(math.abs(t) + 0.5)
        val q = math.max(-127.0, math.min(127.0, r))
        // + 0.0 canonicalizes the -0.0 a negative tiny value rounds to
        out(i) = q * scale + 0.0
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val amax = ctx.freshName("amax")
      val a = ctx.freshName("a")
      val scale = ctx.freshName("scale")
      val q = ctx.freshName("q")
      val t = ctx.freshName("t")
      val res = ctx.freshName("res")
      val nullCheck =
        if (mayHaveNullElems(child))
          s"if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $v.numElements();
         |double $amax = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  double $a = java.lang.Math.abs(${getter(child, v, i)});
         |  if ($a > $amax) $amax = $a;
         |}
         |if (!${ev.isNull}) {
         |  double[] $res = new double[$n];
         |  if ($amax > 0.0) {
         |    double $scale = $amax / 127.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $t = (${getter(child, v, i)}) * 127.0 / $amax;
         |      double $q = java.lang.Math.max(-127.0, java.lang.Math.min(127.0,
         |        java.lang.Math.signum($t) * java.lang.Math.floor(java.lang.Math.abs($t) + 0.5)));
         |      $res[$i] = $q * $scale + 0.0;
         |    }
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($res);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `sign_fingerprint(v)`: the FULL packed sign fingerprint — bit b =
  * (⟨v, planes[b]⟩ ≥ 0) — in ONE expression over a plane matrix baked
  * in as a reference object. The composable formulation (`bits`
  * [[DotProduct]]s against array literals, CASE, +) builds an
  * expression tree whose generated method grows past the JIT's huge-
  * method threshold at bits = 48: janino still compiles it, but HotSpot
  * refuses to JIT it and the projection runs in the bytecode
  * interpreter — measured ~100× slower on the corpus scan this kernel
  * exists for. This form is two short primitive loops (plane × dim),
  * small constant bytecode for ANY bits, and identical numerics (the
  * per-plane dot is the same sequential left-fold over min(|v|,
  * |plane|); bit set on s ≥ 0.0, covering −0.0 exactly like the CASE).
  * A null ELEMENT nulls the whole word (the family posture). */
case class SignFingerprint(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression with VectorArrayAccess {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    var word = 0L
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      val m = math.min(n, p.length)
      var s = 0.0
      var i = 0
      while (i < m) {
        if (mayHaveNullElems(child) && x.isNullAt(i)) return null
        s += get(child, x, i) * p(i)
        i += 1
      }
      if (s >= 0.0) word |= (1L << b)
      b += 1
    }
    word
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val pl = ctx.addReferenceObj("planes", planes, "double[][]")
      val word = ctx.freshName("word")
      val n = ctx.freshName("n")
      val b = ctx.freshName("b")
      val p = ctx.freshName("p")
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val nullCheck =
        if (mayHaveNullElems(child))
          s"if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |long $word = 0L;
         |int $n = $v.numElements();
         |for (int $b = 0; $b < $pl.length && !${ev.isNull}; $b++) {
         |  double[] $p = $pl[$b];
         |  int $m = java.lang.Math.min($n, $p.length);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $m; $i++) {
         |    $nullCheck
         |    $s += (${getter(child, v, i)}) * $p[$i];
         |  }
         |  if ($s >= 0.0) $word |= (1L << $b);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $word; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // Arrays compare by REFERENCE under the synthetic case-class equals,
  // so two semantically identical fingerprint expressions built from
  // distinct (but equal) plane matrices would never canonicalize
  // together — missed common-subexpression elimination and plan reuse.
  // Deep value equality restores them.
  override def equals(other: Any): Boolean = other match {
    case that: SignFingerprint =>
      child == that.child && java.util.Arrays.deepEquals(
        planes.asInstanceOf[Array[AnyRef]],
        that.planes.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(planes.asInstanceOf[Array[AnyRef]])
}

/** Column-API surface for the kernels. */
object VectorOps {
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def l2normalize(v: Column): Column =
    ColumnBridge.column(L2Normalize(ColumnBridge.expression(v)))

  /** `hamming(a, b)` = number of positions where two equal-length strings
    * differ (bit-signature distance for SimHash): one byte loop — the
    * `zip_with(split(a, ""), split(b, ""), ...)` formulation allocates
    * two arrays per comparison inside the O(pairs) candidate join.
    * Unequal-length inputs yield NULL: a silent min-length prefix distance
    * (`hamming('1', sig64) = 0`) would be a wrong answer dressed up as a
    * match — signatures are fixed-width, so a length mismatch is caller
    * error, surfaced as null (also through the SQL-registered `hamming`).
    * The distance is boxed for that null; `Integer.valueOf` caches small
    * ints, so a 64-bit signature distance allocates nothing. */
  def hammingDistance(a: UTF8String, b: UTF8String): java.lang.Integer = {
    val x = a.getBytes
    val y = b.getBytes
    if (x.length != y.length) return null
    var d = 0
    var i = 0
    while (i < x.length) { if (x(i) != y(i)) d += 1; i += 1 }
    Integer.valueOf(d)
  }

  def hamming(a: Column, b: Column): Column =
    ColumnBridge.staticCall(this, "hammingDistance", IntegerType,
      returnNullable = true)(a, b)

  def int8Snap(v: Column): Column =
    ColumnBridge.column(Int8Snap(ColumnBridge.expression(v)))

  def signFingerprint(v: Column, planes: Array[Array[Double]]): Column =
    ColumnBridge.column(SignFingerprint(ColumnBridge.expression(v), planes))
}
