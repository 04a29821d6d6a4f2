package graft.functions.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, DataTypes, DoubleType}

/** Exact scale-18 decimal sum of a double column, returned as DOUBLE —
  * the NATIVE drop-in for the repo's order-free-sum idiom
  * `CAST(sum(CAST(x AS DECIMAL(28,18))) AS DOUBLE)`: each term is
  * quantized exactly the way Spark's double→DECIMAL(28,18) cast does
  * (shortest-decimal HALF_UP via [[VecMomentsDec18.quantize18]];
  * NaN/±Inf and precision-28 overflow → term skipped, as the cast's
  * null is skipped by `sum`), accumulated EXACTLY in the split-long
  * [[Dec18Sums]] accumulator, and converted once at the end
  * (`BigDecimal.doubleValue` = Spark's decimal→double cast). Same
  * value, any aggregation order — but the per-row update is a primitive
  * quantize/accumulate instead of an interpreted decimal-buffer
  * aggregate (DECIMAL(38,18) agg buffers are immutable in UnsafeRow, so
  * the SQL shape plans as non-codegen aggregation — the x79 cost class).
  * Strictly wider than the SQL sum where DECIMAL(38,18) would overflow
  * to null. Null for a group with no surviving term — SQL `sum`
  * semantics.
  *
  * Test scope: no engine code calls it since the logistic family's loss
  * moved into its tree-aggregated kernel; LogisticKernelSpec's reference
  * formulation and NativeExprSpec's pin use it. */
case class SumDec18(child: Expression, mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Dec18Sums] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sum_dec18 requires a double argument, got ${other.sql}")
  }

  override def dataType: DataType = DataTypes.DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sum_dec18"

  override def createAggregationBuffer(): Dec18Sums = new Dec18Sums(1)

  override def update(buf: Dec18Sums, input: InternalRow): Dec18Sums = {
    val v = child.eval(input)
    if (v != null) {
      if (buf.scratch == null) buf.scratch = new Array[Long](2)
      buf.addTerm(0, v.asInstanceOf[Double], buf.scratch)
    }
    buf
  }

  override def merge(b1: Dec18Sums, b2: Dec18Sums): Dec18Sums = {
    b1.mergeFrom(b2)
    b1
  }

  override def eval(buf: Dec18Sums): Any =
    if (buf.seen(0)) buf.total(0).doubleValue else null

  override def serialize(buf: Dec18Sums): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    buf.write(out)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Dec18Sums =
    Dec18Sums.read(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes)))

  override def withNewMutableAggBufferOffset(newOffset: Int): SumDec18 =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SumDec18 =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SumDec18 =
    copy(child = newChild)
}

object SumDec18 {
  /** `sum_dec18(c)` as a Column — aggregate-position drop-in for
    * `sum(c.cast("decimal(28,18)")).cast("double")`. */
  def sumDec18(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(SumDec18(Bridge.expression(c)).toAggregateExpression())
  }
}
