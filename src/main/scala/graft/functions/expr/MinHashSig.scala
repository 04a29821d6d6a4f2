package graft.functions.expr

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, NullType, StringType}

/** MinHash signature of a shingle set — per row, `numPerms` slots
  * `h_i = min over shingles s of (ha(s) + i·hb(s)) mod 2³²`, where `ha`/`hb`
  * are the first and second 32-bit big-endian words of `md5(s)` read as
  * unsigned ints (Kirsch–Mitzenmacher: ONE md5 per shingle, not one per
  * permutation). Bit-equal to the SQL formulation it replaces in
  * [[graft.operators.Dedup]]: explode the set, `conv(substring(md5(sh),
  * 1, 8), 16, 10)` and `…(9, 8)…` per shingle, then `min` per slot grouped
  * by document. Null elements contribute nothing (md5 of null is null,
  * which `min` skips); a set with no non-null element yields all-null
  * slots. Codegen'd: one static call per row, no explode, no shuffle. */
case class MinHashSig(child: Expression, numPerms: Int)
    extends UnaryExpression {
  require(numPerms >= 1, "numPerms must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(shs: Any): Any =
    MinHashSig.sig(shs.asInstanceOf[ArrayData], numPerms)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expr.MinHashSig.sig($c, $numPerms)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private val Mod = 4294967296L

  // one digest per THREAD: sig runs once per document in generated code
  private val tlMd5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private def word(d: Array[Byte], at: Int): Long =
    ((d(at) & 0xffL) << 24) | ((d(at + 1) & 0xffL) << 16) |
      ((d(at + 2) & 0xffL) << 8) | (d(at + 3) & 0xffL)

  def sig(shs: ArrayData, numPerms: Int): ArrayData = {
    val md5 = tlMd5.get()
    val mins = Array.fill(numPerms)(Long.MaxValue)
    var seen = false
    val n = shs.numElements()
    var e = 0
    while (e < n) {
      if (!shs.isNullAt(e)) {
        val d = md5.digest(shs.getUTF8String(e).getBytes)
        val ha = word(d, 0)
        val hb = word(d, 4)
        var i = 0
        while (i < numPerms) {
          val h = (ha + i * hb) % Mod
          if (h < mins(i)) mins(i) = h
          i += 1
        }
        seen = true
      }
      e += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mins)
    else new GenericArrayData(new Array[Any](numPerms))
  }

  /** Column form: the `numPerms`-slot signature of a shingle-set column. */
  def minhashSig(shs: org.apache.spark.sql.Column,
      numPerms: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(MinHashSig(Bridge.expression(shs), numPerms))
  }
}
