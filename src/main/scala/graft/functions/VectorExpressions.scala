package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expressions for vector distance — the codegen'd
  * replacement for the higher-order-function folds in
  * `graft.operators.VectorOps` (HOFs are CodegenFallback: every
  * element evaluation boxes through the interpreter, which dominates
  * the hot loops of kNN scoring and LSH re-rank at scale).
  *
  * Semantics are BITWISE-identical to the HOF formulation: one
  * left-to-right double-precision accumulation per statistic, division
  * and sqrt applied in the same order — so swapping implementations
  * cannot change oracle-checked results.
  *
  * All three kernels share [[VectorKernel]]: a single generated loop
  * over the two float arrays with per-kernel accumulator/finish code.
  */
sealed abstract class VectorKernel extends BinaryExpression with Serializable {

  private def numericArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (numericArray(left.dataType) && numericArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<float|double> inputs, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // length-mismatched inputs yield NULL (see doGenCode), like the HOF
  override def nullable: Boolean = true

  protected def isDouble(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == DoubleType

  /** Element accessor matching the HOF formulation's cast-to-double. */
  protected final def get(xs: ArrayData, double: Boolean, i: Int): Double =
    if (double) xs.getDouble(i) else xs.getFloat(i).toDouble

  protected final def genGet(arr: String, double: Boolean, i: String): String =
    if (double) s"$arr.getDouble($i)" else s"(double) $arr.getFloat($i)"

  /** (accumulator declarations, per-element statement using x/y, finish expression) */
  protected def kernel: (String, String, String)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // dimension mismatch → NULL, matching the HOF spec (zip_with pads
    // the shorter side with nulls, which nulls the whole fold) — a
    // wrong-dimension embedding must be excluded, not prefix-scored
    if (x.numElements() != y.numElements()) null
    else evalLoop(x, y, x.numElements())
  }

  protected def evalLoop(x: ArrayData, y: ArrayData, n: Int): Double

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (decls, step, finish) = kernel
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  $decls
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    double x = ${genGet(a, isDouble(left.dataType), i)};
         |    double y = ${genGet(b, isDouble(right.dataType), i)};
         |    $step
         |  }
         |  ${ev.value} = $finish;
         |}
       """.stripMargin
    })
}

/** cos(a,b) = Σxy / (√Σx² · √Σy²), accumulated left-to-right. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorKernel {
  override def prettyName: String = "graft_cosine"
  protected def kernel: (String, String, String) = (
    "double dot = 0.0; double na = 0.0; double nb = 0.0;",
    "dot += x * y; na += x * x; nb += y * y;",
    "dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))")
  protected def evalLoop(xs: ArrayData, ys: ArrayData, n: Int): Double = {
    val (dl, dr) = (isDouble(left.dataType), isDouble(right.dataType))
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(xs, dl, i); val y = get(ys, dr, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class DotProduct(left: Expression, right: Expression) extends VectorKernel {
  override def prettyName: String = "graft_dot"
  protected def kernel: (String, String, String) =
    ("double dot = 0.0;", "dot += x * y;", "dot")
  protected def evalLoop(xs: ArrayData, ys: ArrayData, n: Int): Double = {
    val (dl, dr) = (isDouble(left.dataType), isDouble(right.dataType))
    var dot = 0.0
    var i = 0
    while (i < n) { dot += get(xs, dl, i) * get(ys, dr, i); i += 1 }
    dot
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class L2Distance(left: Expression, right: Expression) extends VectorKernel {
  override def prettyName: String = "graft_l2"
  protected def kernel: (String, String, String) = (
    "double acc = 0.0;",
    "double d = x - y; acc += d * d;",
    "java.lang.Math.sqrt(acc)")
  protected def evalLoop(xs: ArrayData, ys: ArrayData, n: Int): Double = {
    val (dl, dr) = (isDouble(left.dataType), isDouble(right.dataType))
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = get(xs, dl, i) - get(ys, dr, i)
      acc += d * d; i += 1
    }
    math.sqrt(acc)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ a[i]·b[i] over two int8 code arrays with a 64-bit integer
  * accumulator — the SQ8 scoring kernel
  * ([[graft.operators.VectorOps.annSq]]): quantized search wins come
  * from streaming quarter-width codes through a tight integer loop,
  * which only materializes if the loop is generated, not interpreted.
  * Integer math, so (unlike the double kernels) accumulation order
  * can't even matter. Dimension mismatch → NULL, same contract as
  * the float kernels.
  */
case class Int8Dot(left: Expression, right: Expression)
  extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ByteType, _), ArrayType(ByteType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<tinyint> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def prettyName: String = "graft_int8_dot"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      var acc = 0L
      var i = 0
      val n = x.numElements()
      while (i < n) { acc += x.getByte(i).toLong * y.getByte(i).toLong; i += 1 }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long acc = 0L;
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    acc += (long) $a.getByte($i) * (long) $b.getByte($i);
         |  }
         |  ${ev.value} = acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Codegen'd symmetric-int8 scalar quantizer: ONE compiled pass per
  * vector emitting the struct `(_s double, _c8 array<tinyint>, _n
  * double)` — dequant scale, int8 codes, norm reconstructed from the
  * codes. Replaces the interpreted `transform`/`aggregate` HOF chain
  * in `VectorOps.sqEncodeAll`, whose per-element lambda frames
  * dominated the SQ encode (observed as a 0.8 s single-task stage on
  * a 2k-vector corpus).
  *
  * Bitwise parity with the HOF chain (pinned in VectorOpsSpec):
  *  - ma   = left-to-right max of |x_i| in double
  *  - s    = ma > 0 ? ma / 127.0 : 1.0   (empty/all-zero → 1.0)
  *  - c8_i = (byte) clamp(floor(x_i / s + 0.5), ±127)   — floor
  *           first, then clamp, then the exact-integer byte cast
  *  - n    = sqrt((double) Σ c8_i²) · s  (integer partial sums)
  * Null vector → null struct; the callers' `_n > 0` guard drops such
  * rows under either formulation, so results are unchanged.
  */
case class Int8Encode(child: Expression)
  extends UnaryExpression with Serializable {

  override def prettyName: String = "graft_int8_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double>, got ${other.simpleString(10)}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("_s", DoubleType, nullable = false),
    org.apache.spark.sql.types.StructField("_c8", ArrayType(ByteType, containsNull = false), nullable = false),
    org.apache.spark.sql.types.StructField("_n", DoubleType, nullable = false)))

  override def nullIntolerant: Boolean = true

  private def isDoubleIn: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = x.numElements()
    val dbl = isDoubleIn
    def get(i: Int): Double = if (dbl) x.getDouble(i) else x.getFloat(i).toDouble
    var ma = 0.0
    var i = 0
    while (i < n) { val v = math.abs(get(i)); if (v > ma) ma = v; i += 1 }
    val s = if (ma > 0.0) ma / 127.0 else 1.0
    val codes = new Array[Byte](n)
    var ss = 0L
    i = 0
    while (i < n) {
      var c = math.floor(get(i) / s + 0.5)
      if (c > 127.0) c = 127.0
      if (c < -127.0) c = -127.0
      val b = c.toByte
      codes(i) = b
      ss += b.toLong * b.toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      s,
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(codes),
      math.sqrt(ss.toDouble) * s))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getX =
      if (isDoubleIn) (a: String, i: String) => s"$a.getDouble($i)"
      else (a: String, i: String) => s"(double) $a.getFloat($i)"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val ma = ctx.freshName("ma")
      val s = ctx.freshName("s")
      val codes = ctx.freshName("codes")
      val ss = ctx.freshName("ss")
      val c = ctx.freshName("c")
      val b = ctx.freshName("b")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $ma = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = java.lang.Math.abs(${getX(a, i)});
         |  if ($v > $ma) $ma = $v;
         |}
         |double $s = ($ma > 0.0) ? $ma / 127.0 : 1.0;
         |byte[] $codes = new byte[$n];
         |long $ss = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $c = java.lang.Math.floor(${getX(a, i)} / $s + 0.5);
         |  if ($c > 127.0) $c = 127.0;
         |  if ($c < -127.0) $c = -127.0;
         |  byte $b = (byte) $c;
         |  $codes[$i] = $b;
         |  $ss += (long) $b * (long) $b;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(new Object[] {
         |  $s,
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($codes),
         |  java.lang.Math.sqrt((double) $ss) * $s });
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Int8Encode {
  def apply(vec: Column): Column =
    GraftSqlBridge.column(Int8Encode(GraftSqlBridge.expression(vec)))
}

/** Column wrappers + SQL registration. */
object VectorExpressions {

  def cosine(a: Column, b: Column): Column =
    GraftSqlBridge.column(CosineSimilarity(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProduct(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def l2(a: Column, b: Column): Column =
    GraftSqlBridge.column(L2Distance(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def int8Dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(Int8Dot(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** The SQL function table: [[register]] and [[GraftExtensions]]
    * both install exactly these names.
    */
  private[functions] val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", { args => require(args.length == 2); CosineSimilarity(args(0), args(1)) }),
    ("graft_dot",    { args => require(args.length == 2); DotProduct(args(0), args(1)) }),
    ("graft_l2",     { args => require(args.length == 2); L2Distance(args(0), args(1)) }),
    ("graft_int8_dot", { args => require(args.length == 2); Int8Dot(args(0), args(1)) }),
    ("graft_int8_encode", { args => require(args.length == 1); Int8Encode(args(0)) }),
    ("graft_shingle_hashes", { args =>
      require(args.length == 2)
      ShingleHashes(args(0), GraftExtensions.intLiteral(args(1), "n")) }),
    ("graft_simhash64", { args => require(args.length == 1); SimHash64(args(0)) }),
    ("graft_minhash", { args =>
      require(args.length == 2)
      MinHashSignature(args(0), GraftExtensions.intLiteral(args(1), "perms")) }),
    ("graft_shingle_hashes_md5", { args =>
      require(args.length == 2)
      ShingleHashesMd5(args(0), GraftExtensions.intLiteral(args(1), "n")) }),
    ("graft_simhash60", { args => require(args.length == 1); SimHash60(args(0)) }),
    ("graft_minhash_grid", { args =>
      require(args.length == 2)
      MinHashGridSignature(args(0), GraftExtensions.intLiteral(args(1), "perms")) }),
    ("graft_cms_estimate", { args =>
      require(args.length == 2); CmsEstimate(args(0), args(1)) }),
    ("graft_hilbert", { args =>
      require(args.length == 2); HilbertIndex(args(0), args(1)) }),
    ("graft_hist_quantile", { args =>
      require(args.length == 5)
      HistQuantile(args(0),
        GraftExtensions.doubleLiteral(args(1), "lo"),
        GraftExtensions.doubleLiteral(args(2), "hi"),
        GraftExtensions.intLiteral(args(3), "bins"),
        GraftExtensions.doubleLiteral(args(4), "q"))
        .toAggregateExpression() }))

  /** Runtime registration: `SELECT graft_cosine(a, b)` works on the
    * given session afterwards.
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder)
    }
}
