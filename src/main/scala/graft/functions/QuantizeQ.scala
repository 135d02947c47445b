package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native vector quantization `array<float|double>` → `array<long>`,
  * component = floor(x · 10⁶) — the scan-side projection of EVERY
  * quantized-vector path ([[graft.operators.VectorOps.quantize]]: k-means,
  * PQ/IVF encode, brute-force/ANN scoring, the AL loop's pool frame).
  * Semantically identical to
  * `transform(vec, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS LONG))`
  * — same `Math.floor(x * 1.0E6)` then long cast per element, null
  * elements preserved — but the HOF form runs one interpreted lambda
  * invocation per element on corpus-scan projections (the catalog's widest
  * hot path), where this is one primitive loop inside whole-stage codegen:
  * measured 2–3× end-to-end on a 2²¹×64 kernel A/B
  * (min-of-3 through the noop sink, cached-read overhead included —
  * OPTIMIZATION_r13 §14).
  * Third custom Expression after [[Md5Hash48]] and [[DotQ]], same
  * earned-on-a-measured-hot-path bar.
  */
final case class QuantizeQ(child: Expression) extends UnaryExpression {

  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => FloatType
  }

  // containsNull = true mirrors the transform(...) composition this
  // replaces (ArrayTransform's output nullability follows the lambda body,
  // and floor(cast(x)) is nullable) — byte-identical schema for consumers
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "quantize_q"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double>, got ${t.sql}")
  }

  override protected def nullSafeEval(a: Any): Any = elemType match {
    case FloatType => QuantizeQ.quantF(a.asInstanceOf[ArrayData])
    case _ => QuantizeQ.quantD(a.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (elemType == FloatType) "quantF" else "quantD"
    defineCodeGen(ctx, ev, c => s"graft.functions.QuantizeQ.$fn($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeQ =
    copy(child = newChild)
}

object QuantizeQ {
  private val Scale = 1.0e6 // VectorOps.Scale as an exact double

  /** Called from generated code — keep signature stable. */
  def quantF(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return quantNullable(a, isFloat = true)
      out(i) = math.floor(a.getFloat(i).toDouble * Scale).toLong
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Called from generated code — keep signature stable. */
  def quantD(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return quantNullable(a, isFloat = false)
      out(i) = math.floor(a.getDouble(i) * Scale).toLong
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Slow path for arrays that actually carry null elements (none of the
    * corpus vector columns do; kept for exact transform() parity).
    */
  private def quantNullable(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        out(i) = math.floor(v * Scale).toLong
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  val registration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("quantize_q"),
    new ExpressionInfo(classOf[QuantizeQ].getName, "quantize_q"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "quantize_q takes exactly one argument")
      QuantizeQ(children.head)
    },
  )
}
