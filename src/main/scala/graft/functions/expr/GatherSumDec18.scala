package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, NullType}

/** Exact scale-18 decimal sum of GATHERED values — per row,
  * `Σ dec18(values[indices(i)])` over an `array<long>` index column and
  * an `array<double>` value table (typically a broadcast literal):
  * the NATIVE map-only replacement for the join + per-group
  * `sum(CAST(x·w AS DECIMAL(28,18)))` idiom when the value table is
  * driver-bounded (the logistic family's per-document logit z over the
  * (dim+1)-entry weight vector — see
  * [[graft.functions.Curation]] logisticFit). Each gathered value
  * is quantized exactly like Spark's double→DECIMAL(28,18) cast
  * ([[VecMomentsDec18.quantize18]]; non-finite / precision-28 overflow
  * terms are skipped like the cast's null under `sum`), accumulated
  * exactly ([[Dec18Sums]]), and the exact total converts to double once
  * — value-identical to the join-aggregate formulation for any order.
  * Out-of-range or null-index entries contribute nothing (the inner
  * join's missing-row semantics). Codegen'd: one static call per row,
  * no join, no shuffle, no aggregation. */
case class GatherSumDec18(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _) | NullType,
            ArrayType(DoubleType, _) | NullType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"gather_sum_dec18 requires (array<bigint>, array<double>), got " +
          s"${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "gather_sum_dec18"

  override protected def nullSafeEval(idx: Any, vals: Any): Any =
    GatherSumDec18.gather(idx.asInstanceOf[ArrayData],
      vals.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expr.GatherSumDec18.gather($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): GatherSumDec18 =
    copy(left = newLeft, right = newRight)
}

object GatherSumDec18 {
  // quantize18's 2-long parse scratch, one per THREAD — gather runs once
  // per input row in the codegen'd hot path of every GD iteration, so a
  // per-row array (let alone a per-row Dec18Sums) is allocation churn
  // (r13 verdict)
  private val tlScratch = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](2)
  }

  def gather(idx: ArrayData, vals: ArrayData): Double = {
    val scratch = tlScratch.get()
    // Dec18Sums' single slot, flattened to two locals + the lazy spill:
    // same carry normalization, same overflow-spilling hi adds, same
    // exact total — bit-identical to the Dec18Sums(1) path for any
    // term set (NativeExprSpec pins the parity)
    var hi = 0L
    var lo = 0L
    var spill: java.math.BigDecimal = null
    val n = idx.numElements()
    val m = vals.numElements()
    var i = 0
    while (i < n) {
      if (!idx.isNullAt(i)) {
        val b = idx.getLong(i)
        if (b >= 0L && b < m && !vals.isNullAt(b.toInt) &&
            VecMomentsDec18.quantize18(vals.getDouble(b.toInt), scratch)) {
          var l = lo + scratch(1)
          var carry = 0L
          if (l >= Dec18Sums.E18) { l -= Dec18Sums.E18; carry = 1L }
          else if (l <= -Dec18Sums.E18) { l += Dec18Sums.E18; carry = -1L }
          lo = l
          val u = scratch(0)
          val r = hi + u
          if (((hi ^ r) & (u ^ r)) < 0L) {
            spill = Dec18Sums.spillWhole(spill, hi); hi = u
          } else hi = r
          if (carry != 0L) {
            val r2 = hi + carry
            if (((hi ^ r2) & (carry ^ r2)) < 0L) {
              spill = Dec18Sums.spillWhole(spill, hi); hi = carry
            } else hi = r2
          }
        }
      }
      i += 1
    }
    val base = new java.math.BigDecimal(
      java.math.BigInteger.valueOf(hi).multiply(Dec18Sums.TEN18)
        .add(java.math.BigInteger.valueOf(lo)), 18)
    (if (spill == null) base else spill.add(base)).doubleValue
  }

  /** Column form: exact dec18 sum of `values(i)` for i in `indices`. */
  def gatherSumDec18(indices: org.apache.spark.sql.Column,
      values: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(GatherSumDec18(Bridge.expression(indices),
      Bridge.expression(values)))
  }
}
