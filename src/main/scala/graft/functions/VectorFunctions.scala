package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, StructField, StructType}

/** Native Catalyst cosine similarity over `array<float>` embeddings.
  *
  * A codegen'd expression (not a Scala UDF): stays inside whole-stage
  * codegen, reads the float arrays directly from Tungsten format with no
  * boxing — the difference between viable and not on a 100 TB
  * brute-force similarity scan. Accumulates in double; returns 0.0 for
  * zero-norm inputs. Null array → null (standard binary-expression
  * semantics); null ELEMENTS are not expected (testdata has none).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is unavailable (AbstractDataType is private[sql]),
  // so the type contract is enforced directly: a non-array<float> argument
  // fails at ANALYSIS with a readable message, not at eval with a
  // ClassCastException deep inside a 100 TB job.
  override def checkInputDataTypes(): TypeCheckResult = {
    def isFloatArray(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<float>) arguments, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  // every local gets a ctx.freshName: two CosineSim instances can land
  // in the SAME codegen function scope (e.g. scored twice in one
  // projection), and fixed names would collide — janino rejects the
  // class and the whole stage silently falls back to interpreted eval
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getFloat($i);
         |  double $y = $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Per-vector symmetric int8 quantization of an `array<float>`:
  * returns struct(qscale float, qvec array<tinyint>) with qscale =
  * maxAbs/127 and elements rounded into [-127, 127] (all-zero vector →
  * qscale 0, zero qvec). One loop over the Tungsten floats instead of
  * the interpreted aggregate(maxAbs) + transform(round/cast) pair.
  * Code-generated via the shared [[VectorKernels.quantize]] kernel
  * (the TextKernels discipline: one body, both execution modes). */
case class QuantizeVec(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("qscale", FloatType, nullable = false),
    StructField("qvec", ArrayType(ByteType, containsNull = false),
      nullable = false)))

  override def prettyName: String = "graft_quantize_vec"

  override def nullSafeEval(v: Any): Any =
    VectorKernels.quantize(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.quantize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Dequantize an int8 vector back to `array<float>` (qvec[i] * qscale)
  * — the inverse of [[QuantizeVec]], one loop, code-generated via
  * [[VectorKernels.dequantize]]. */
case class DequantizeVec(qvec: Expression, qscale: Expression)
    extends BinaryExpression {

  override def left: Expression = qvec
  override def right: Expression = qscale

  override def checkInputDataTypes(): TypeCheckResult =
    (qvec.dataType, qscale.dataType) match {
      case (ArrayType(ByteType, _), FloatType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<tinyint>, float), got " +
        s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "graft_dequantize_vec"

  override def nullSafeEval(q: Any, s: Any): Any =
    VectorKernels.dequantize(q.asInstanceOf[ArrayData], s.asInstanceOf[Float])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (q, s) => s"graft.functions.VectorKernels.dequantize($q, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(qvec = newLeft, qscale = newRight)
}

/** Sign-random-projection signature: bit i of the result is set iff
  * `vec · planes[i] >= 0`. `planes` is a foldable literal
  * array<array<double>> (the seeded hyperplanes). One nested loop —
  * the HOF formulation (`aggregate(zip_with(...))` per plane)
  * interprets an expression tree per element per plane per row, the
  * hottest loop of the LSH paths. Accumulation order matches the HOF
  * (left to right), so signatures are bit-identical.
  *
  * Code-generated: the foldable plane literal is unpacked ONCE per
  * expression instance into a `double[][]` (the fallback path
  * re-walked the nested ArrayData — a getArray + element-accessor
  * chain per plane per row) and rides into the generated code as a
  * reference object; the dot-product loops run in
  * [[VectorKernels.signBits]]. */
case class SignBits(vec: Expression, planes: Expression)
    extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = planes

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, planes.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(DoubleType, _), _))
          if planes.foldable =>
        // the signature is one Long, bit i = 1L << i: more than 64
        // planes would silently alias bits (1L << 64 wraps to bit 0).
        // planes is foldable, so the count is known at analysis time.
        val n = Option(planes.eval(null))
          .map(_.asInstanceOf[ArrayData].numElements()).getOrElse(0)
        if (n > 64) TypeCheckResult.TypeCheckFailure(
          s"$prettyName supports at most 64 planes (long signature), got $n")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, foldable array<array<double>>), " +
        s"got (${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_sign_bits"

  @transient private lazy val planeMatrix: Array[Array[Double]] = {
    val ps = planes.eval().asInstanceOf[ArrayData]
    Array.tabulate(ps.numElements())(i => ps.getArray(i).toDoubleArray())
  }

  override def nullSafeEval(v: Any, p: Any): Any =
    VectorKernels.signBits(v.asInstanceOf[ArrayData], planeMatrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val vecGen = vec.genCode(ctx)
    val ref = ctx.addReferenceObj("graftPlanes", planeMatrix, "double[][]")
    ev.copy(code = vecGen.code + code"""
      boolean ${ev.isNull} = ${vecGen.isNull};
      long ${ev.value} = 0L;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.VectorKernels.signBits(
          ${vecGen.value}, $ref);
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, planes = newRight)
}

object VectorFunctions {

  /** Register `graft_cosine` / `graft_quantize_vec` /
    * `graft_dequantize_vec` in the session's function registry so they
    * are callable from both the Column API and SQL. Idempotent. */
  def register(spark: SparkSession): Unit = {
    NativeFunctions.registerOnce(spark, "graft_cosine")(
      exprs => CosineSim(exprs(0), exprs(1)))
    NativeFunctions.registerOnce(spark, "graft_quantize_vec")(
      exprs => QuantizeVec(exprs(0)))
    NativeFunctions.registerOnce(spark, "graft_dequantize_vec")(
      exprs => DequantizeVec(exprs(0), exprs(1)))
    NativeFunctions.registerOnce(spark, "graft_sign_bits")(
      exprs => SignBits(exprs(0), exprs(1)))
  }

  /** Codegen'd cosine similarity column (requires [[register]] first). */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** struct(qscale, qvec) int8 quantization (requires [[register]]). */
  def quantizeVec(v: Column): Column = call_function("graft_quantize_vec", v)

  /** array<float> dequantization (requires [[register]]). */
  def dequantizeVec(qvec: Column, qscale: Column): Column =
    call_function("graft_dequantize_vec", qvec, qscale)

  /** Hyperplane sign-bit signature over literal planes (requires
    * [[register]]). */
  def signBits(vec: Column, planes: Seq[Array[Double]]): Column =
    call_function("graft_sign_bits", vec,
      array(planes.map(p => array(p.toIndexedSeq.map(lit): _*)): _*))

  /** Pure-built-in fallback via higher-order functions — same math
    * (double accumulation, dot/sqrt(na*nb)), no custom expression.
    * Kept as a cross-check and for environments where registering
    * functions isn't possible. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val nb = aggregate(transform(b, y => y.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot / sqrt(na * nb))
  }
}
