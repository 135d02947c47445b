package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Count-only array intersection over two `array<long>` columns —
  * semantically `size(array_intersect(a, b))` (distinct values present in
  * both sides, a shared null counts once), without materializing the
  * intersection array. This is the verification kernel of every
  * set-similarity path ([[graft.operators.SetSimJoin]]'s Jaccard and
  * containment verifiers, incremental dedup's delta re-check): per
  * candidate pair only the COUNT is ever consumed, so building a
  * GenericArrayData result per row is pure allocation. One linear-probe
  * table sized to the build side, probed in place inside whole-stage
  * codegen. Registered as SQL fn `intersect_count_q` through
  * [[graft.core.GraftSession]]; promoted on a measured kernel A/B win
  * (the quantize_q ≥2× bar), parity pinned by IntersectCountQSpec.
  */
final case class IntersectCountQ(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count_q"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments, got ${l.sql}, ${r.sql}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    IntersectCountQ.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.IntersectCountQ.count($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): IntersectCountQ =
    copy(left = newLeft, right = newRight)
}

object IntersectCountQ {
  /** Called from generated code — keep signature stable.
    *
    * Exactly `size(array_intersect(a, b))`: the number of DISTINCT values
    * of `a` that also occur in `b`, plus one if both sides contain a null
    * element. Linear-probe open addressing over the right side; `counted`
    * flags make duplicate left-side values count once.
    */
  def count(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0) return 0L
    // power-of-two capacity at load factor <= 0.5
    var cap = 8
    while (cap < m * 2) cap <<= 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val counted = new Array[Boolean](cap)
    val mask = cap - 1
    var bHasNull = false
    var i = 0
    while (i < m) {
      if (b.isNullAt(i)) bHasNull = true
      else {
        val v = b.getLong(i)
        var idx = java.lang.Long.hashCode(v) * 0x9e3779b9 & mask
        while (used(idx) && table(idx) != v) idx = (idx + 1) & mask
        if (!used(idx)) { used(idx) = true; table(idx) = v }
      }
      i += 1
    }
    var acc = 0L
    var nullCounted = false
    var j = 0
    while (j < n) {
      if (a.isNullAt(j)) {
        if (bHasNull && !nullCounted) { acc += 1; nullCounted = true }
      } else {
        val v = a.getLong(j)
        var idx = java.lang.Long.hashCode(v) * 0x9e3779b9 & mask
        while (used(idx) && table(idx) != v) idx = (idx + 1) & mask
        if (used(idx) && !counted(idx)) { acc += 1; counted(idx) = true }
      }
      j += 1
    }
    acc
  }

  val registration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("intersect_count_q"),
    new ExpressionInfo(classOf[IntersectCountQ].getName, "intersect_count_q"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "intersect_count_q takes exactly two arguments")
      IntersectCountQ(children.head, children(1))
    },
  )
}
