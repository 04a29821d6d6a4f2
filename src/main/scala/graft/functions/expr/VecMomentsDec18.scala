package graft.functions.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** A block of exact DECIMAL(·,18) sums — one slot per moment — held as a
  * SPLIT-LONG accumulator: a scale-18 unscaled value does not fit one
  * long (10²⁸ ≫ 2⁶³), so each slot keeps `hi` (the integer-part unscaled
  * digits, < 10¹⁰ per in-precision term) and `lo` (the 18 fraction
  * digits, |lo| < 10¹⁸ by carry normalization after every add), with a
  * lazily allocated BigDecimal spill for the astronomically-rare `hi`
  * overflow (≥ ~9·10⁸ max-magnitude terms). `total(t) = spill(t) +
  * BigDecimal(hi·10¹⁸ + lo, scale 18)` — exact at any magnitude and any
  * row count. `seen` preserves SQL `sum` null semantics (a slot no
  * in-precision finite term ever reached is null, not 0). */
final class Dec18Sums(var size: Int) extends Serializable {
  var hi: Array[Long] = new Array[Long](size)
  var lo: Array[Long] = new Array[Long](size)
  var seen: Array[Boolean] = new Array[Boolean](size)
  var spill: Array[java.math.BigDecimal] = _
  /** Transient parse scratch for callers that use this class AS an agg
    * buffer (the test-scope `SumDec18` aggregate); never serialized. */
  @transient var scratch: Array[Long] = _

  def grow(n: Int): Unit = if (n > size) {
    hi = java.util.Arrays.copyOf(hi, n)
    lo = java.util.Arrays.copyOf(lo, n)
    seen = java.util.Arrays.copyOf(seen, n)
    if (spill != null) spill = java.util.Arrays.copyOf(spill, n)
    size = n
  }

  private def addToSpill(t: Int, v: java.math.BigDecimal): Unit = {
    if (spill == null) spill = new Array[java.math.BigDecimal](size)
    val cur = spill(t)
    spill(t) = if (cur == null) v else cur.add(v)
  }

  /** Overflow-spilling add into `hi` — the PairMomentsBuf idiom: on
    * two's-complement overflow the old accumulated value moves to the
    * exact spill (scaled by 10¹⁸ — `hi` counts WHOLE units) and the
    * increment restarts the primitive accumulator. */
  private def addHi(t: Int, u: Long): Unit = {
    val a = hi(t)
    val r = a + u
    if (((a ^ r) & (u ^ r)) < 0L) {
      addToSpill(t, new java.math.BigDecimal(
        java.math.BigInteger.valueOf(a).multiply(Dec18Sums.TEN18), 18))
      hi(t) = u
    } else hi(t) = r
  }

  /** Add one quantized term given as its (hi, lo) unscaled split. Both
    * |lo| values are < 10¹⁸, so the long add cannot overflow; one carry
    * renormalizes `lo` back under 10¹⁸. */
  def addParsed(t: Int, phi: Long, plo: Long): Unit = {
    seen(t) = true
    var l = lo(t) + plo
    var carry = 0L
    if (l >= Dec18Sums.E18) { l -= Dec18Sums.E18; carry = 1L }
    else if (l <= -Dec18Sums.E18) { l += Dec18Sums.E18; carry = -1L }
    lo(t) = l
    addHi(t, phi)
    if (carry != 0L) addHi(t, carry)
  }

  /** Quantize-and-accumulate one double term under the full Spark
    * double→DECIMAL(28,18) cast semantics (see
    * [[VecMomentsDec18.quantize18]]): NaN/±Inf and precision-28 overflow
    * cast to null and the SQL sum skips them — so does this. */
  def addTerm(t: Int, x: Double, scratch: Array[Long]): Unit =
    if (VecMomentsDec18.quantize18(x, scratch))
      addParsed(t, scratch(0), scratch(1))

  /** Quantize `x` ONCE (a term the cast nulls is skipped whole) and add
    * it into every in-range slot that `idx` names; a repeated index adds
    * it again, a null or out-of-range one adds nothing. */
  def addEach(idx: ArrayData, x: Double, scratch: Array[Long]): Unit =
    if (VecMomentsDec18.quantize18(x, scratch)) {
      val n = idx.numElements()
      var i = 0
      while (i < n) {
        if (!idx.isNullAt(i)) {
          val b = idx.getLong(i)
          if (b >= 0L && b < size) addParsed(b.toInt, scratch(0), scratch(1))
        }
        i += 1
      }
    }

  def mergeFrom(o: Dec18Sums): Unit = {
    grow(o.size)
    var t = 0
    while (t < o.size) {
      if (o.seen(t)) {
        addParsed(t, o.hi(t), o.lo(t))
        if (o.spill != null && o.spill(t) != null) addToSpill(t, o.spill(t))
      }
      t += 1
    }
  }

  def total(t: Int): java.math.BigDecimal = {
    val base = new java.math.BigDecimal(
      java.math.BigInteger.valueOf(hi(t)).multiply(Dec18Sums.TEN18)
        .add(java.math.BigInteger.valueOf(lo(t))), 18)
    if (spill == null || spill(t) == null) base else spill(t).add(base)
  }

  def write(out: java.io.DataOutputStream): Unit = {
    out.writeInt(size)
    var t = 0
    while (t < size) {
      out.writeBoolean(seen(t))
      out.writeLong(hi(t))
      out.writeLong(lo(t))
      val sp = if (spill == null) null else spill(t)
      if (sp == null) out.writeInt(-1)
      else {
        val bytes = sp.unscaledValue.toByteArray // scale fixed at 18
        out.writeInt(bytes.length)
        out.write(bytes)
      }
      t += 1
    }
  }
}

object Dec18Sums {
  private[expr] final val E18 = 1000000000000000000L
  private[expr] final val TEN18 = java.math.BigInteger.valueOf(E18)

  /** Move `units` WHOLE accumulated units (scaled by 10¹⁸) into the
    * exact spill — the overflow path of [[Dec18Sums.addHi]], shared with
    * flattened single-slot accumulators ([[GatherSumDec18.gather]]). */
  private[expr] def spillWhole(cur: java.math.BigDecimal,
      units: Long): java.math.BigDecimal = {
    val v = new java.math.BigDecimal(
      java.math.BigInteger.valueOf(units).multiply(TEN18), 18)
    if (cur == null) v else cur.add(v)
  }

  def read(in: java.io.DataInputStream): Dec18Sums = {
    val s = new Dec18Sums(in.readInt())
    var t = 0
    while (t < s.size) {
      s.seen(t) = in.readBoolean()
      s.hi(t) = in.readLong()
      s.lo(t) = in.readLong()
      val len = in.readInt()
      if (len >= 0) {
        val b = new Array[Byte](len)
        in.readFully(b)
        if (s.spill == null)
          s.spill = new Array[java.math.BigDecimal](s.size)
        s.spill(t) =
          new java.math.BigDecimal(new java.math.BigInteger(b), 18)
      }
      t += 1
    }
    s
  }
}

/** Accumulator of [[VecMomentsDec18]]: per-dimension coverage counts plus
  * the requested exact scale-18 moment blocks, all sized lazily to the
  * widest array seen (the callers' vectors are fixed-width; ragged input
  * degrades gracefully to the per-dim-group semantics of the posexplode
  * formulation this replaces). */
final class VecMomentsBuf(val c: Int, val wantBase: Boolean) {
  var d: Int = 0
  var n: Long = 0L
  var cnt: Array[Long] = new Array[Long](0)
  val sx: Dec18Sums = if (wantBase) new Dec18Sums(0) else null
  val sxx: Dec18Sums = if (wantBase) new Dec18Sums(0) else null
  val sb: Dec18Sums = new Dec18Sums(c)
  val sa: Array[Dec18Sums] = Array.fill(c)(new Dec18Sums(0))
  val scratch: Array[Long] = new Array[Long](2)

  def grow(nd: Int): Unit = if (nd > d) {
    cnt = java.util.Arrays.copyOf(cnt, nd)
    if (wantBase) { sx.grow(nd); sxx.grow(nd) }
    var ci = 0
    while (ci < c) { sa(ci).grow(nd); ci += 1 }
    d = nd
  }
}

/** EVERY per-dimension exact-decimal moment of a vector column in ONE
  * native aggregate — the [[PairMomentsDec6]] technique generalized to
  * the PCA family's DECIMAL(28,18) per-dim sums over posexploded rows
  * (x182/x249/x250's cost center, the last x79-class row): per input row
  * (`xs` an `array<double>`, `us` an `array<double>` of `c` per-row
  * scalars — the covariance-operator images `u = dot18(xs,v) − μ·v`),
  * each requested term is quantized exactly the way Spark's
  * `CAST(x AS DECIMAL(28,18))` does (Double.toString-based shortest
  * decimal, HALF_UP at scale 18; NaN/±Inf and precision-28 overflow →
  * term skipped, as the cast's null is skipped by `sum`) and accumulated
  * EXACTLY in split-long unscaled form — bit-identical to the SQL
  * formulation `CAST(sum(CAST(term AS DECIMAL(28,18))) AS DOUBLE)` per
  * moment for any aggregation order (strictly wider where the SQL sum
  * would overflow DECIMAL(38,18) to null).
  *
  * Semantics replicated from the posexplode + groupBy(dim) shape (see
  * [[graft.operators.Similarity]] pcaBase/pcaApply — reference behavior
  * `/root/reference/src/services/analysis.py` PCA paths re-expressed
  * Spark-native):
  *  - a null `xs` row contributes nothing (posexplode of null emits no
  *    rows);
  *  - `cnt(i)` counts every row covering dim i, null elements INCLUDED
  *    (`count(lit(1))` per dim group);
  *  - `sx(i)`/`sxx(i)` (when `wantBase`) skip null elements and
  *    cast-nulled terms;
  *  - `sb(ci)` sums dec18(u_ci) over rows covering dim 0 (the dim-0
  *    group the caller reads b from);
  *  - `sa(ci)(i)` sums dec18(x_i·u_ci), skipping null x_i / null u_ci.
  *
  * Why native: a DECIMAL(38,18) agg buffer is immutable in UnsafeRow, so
  * the sums this replaces plan as interpreted non-codegen aggregation
  * over n·d exploded rows with a d-key shuffle; here the per-row work is
  * ONE virtual call into a primitive loop, there is no explode, and the
  * shuffle carries one buffer per partition (partial agg still applies).
  *
  * Output (`array<double>`, slots null where no term survived):
  * `[d, n, cnt(d), sx(d) if wantBase, sxx(d) if wantBase, sb(c),
  *   sa(0)(d) … sa(c−1)(d)]` — every sum is `total.doubleValue`, i.e.
  * Spark's decimal→double cast of the exact decimal sum. */
case class VecMomentsDec18(left: Expression, right: Expression, c: Int,
    wantBase: Boolean, mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecMomentsBuf]
  with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _))
          if c >= 0 && (c > 0 || wantBase) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          "vec_moments_dec18 needs c > 0 or wantBase")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_moments_dec18 requires array<double> inputs, got ${l.sql}, " +
          r.sql)
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "vec_moments_dec18"

  override def createAggregationBuffer(): VecMomentsBuf =
    new VecMomentsBuf(c, wantBase)

  override def update(buf: VecMomentsBuf, input: InternalRow): VecMomentsBuf = {
    val xs = left.eval(input).asInstanceOf[ArrayData]
    if (xs == null) return buf
    val len = xs.numElements()
    buf.grow(len)
    buf.n += 1L
    var uOk: Array[Boolean] = null
    var uv: Array[Double] = null
    if (c > 0) {
      val us = right.eval(input).asInstanceOf[ArrayData]
      uOk = new Array[Boolean](c)
      uv = new Array[Double](c)
      if (us != null) {
        val m = math.min(c, us.numElements())
        var ci = 0
        while (ci < m) {
          if (!us.isNullAt(ci)) { uOk(ci) = true; uv(ci) = us.getDouble(ci) }
          ci += 1
        }
      }
      // dec18(u) is summed over the dim-0 group = rows covering dim 0
      if (len >= 1) {
        var ci = 0
        while (ci < c) {
          if (uOk(ci)) buf.sb.addTerm(ci, uv(ci), buf.scratch)
          ci += 1
        }
      }
    }
    var i = 0
    while (i < len) {
      buf.cnt(i) += 1L
      if (!xs.isNullAt(i)) {
        val x = xs.getDouble(i)
        if (wantBase) {
          buf.sx.addTerm(i, x, buf.scratch)
          buf.sxx.addTerm(i, x * x, buf.scratch)
        }
        var ci = 0
        while (ci < c) {
          if (uOk(ci)) buf.sa(ci).addTerm(i, x * uv(ci), buf.scratch)
          ci += 1
        }
      }
      i += 1
    }
    buf
  }

  override def merge(b1: VecMomentsBuf, b2: VecMomentsBuf): VecMomentsBuf = {
    b1.grow(b2.d)
    b1.n += b2.n
    var i = 0
    while (i < b2.d) { b1.cnt(i) += b2.cnt(i); i += 1 }
    if (wantBase) { b1.sx.mergeFrom(b2.sx); b1.sxx.mergeFrom(b2.sxx) }
    b1.sb.mergeFrom(b2.sb)
    var ci = 0
    while (ci < c) { b1.sa(ci).mergeFrom(b2.sa(ci)); ci += 1 }
    b1
  }

  override def eval(buf: VecMomentsBuf): Any = {
    val d = buf.d
    val base = if (wantBase) 2 else 0
    val out = new Array[Any](2 + d + base * d + c + c * d)
    out(0) = d.toDouble
    out(1) = buf.n.toDouble
    def put(off: Int, s: Dec18Sums, t: Int): Unit =
      out(off) = if (t < s.size && s.seen(t)) s.total(t).doubleValue else null
    var i = 0
    while (i < d) {
      out(2 + i) = buf.cnt(i).toDouble
      if (wantBase) { put(2 + d + i, buf.sx, i); put(2 + 2 * d + i, buf.sxx, i) }
      i += 1
    }
    var ci = 0
    while (ci < c) {
      put(2 + d + base * d + ci, buf.sb, ci)
      i = 0
      while (i < d) {
        put(2 + d + base * d + c + ci * d + i, buf.sa(ci), i)
        i += 1
      }
      ci += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: VecMomentsBuf): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.d)
    out.writeLong(buf.n)
    var i = 0
    while (i < buf.d) { out.writeLong(buf.cnt(i)); i += 1 }
    if (wantBase) { buf.sx.write(out); buf.sxx.write(out) }
    buf.sb.write(out)
    var ci = 0
    while (ci < c) { buf.sa(ci).write(out); ci += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecMomentsBuf = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val buf = new VecMomentsBuf(c, wantBase)
    buf.grow(in.readInt())
    buf.n = in.readLong()
    var i = 0
    while (i < buf.d) { buf.cnt(i) = in.readLong(); i += 1 }
    def load(into: Dec18Sums): Unit = {
      val s = Dec18Sums.read(in)
      into.grow(s.size)
      into.mergeFrom(s)
    }
    if (wantBase) { load(buf.sx); load(buf.sxx) }
    load(buf.sb)
    var ci = 0
    while (ci < c) { load(buf.sa(ci)); ci += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecMomentsDec18 =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecMomentsDec18 =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecMomentsDec18 =
    copy(left = newLeft, right = newRight)
}

object VecMomentsDec18 {
  private final val POW10: Array[Long] = {
    val a = new Array[Long](19)
    a(0) = 1L
    var i = 1
    while (i < 19) { a(i) = a(i - 1) * 10L; i += 1 }
    a
  }

  /** The (hi, lo) unscaled split of `CAST(x AS DECIMAL(28,18))` into
    * `out(0) = hi` (whole units, < 10¹⁰) and `out(1) = lo` (the 18
    * fraction digits, < 10¹⁸), both sign-carrying — or `false` when the
    * cast yields null (NaN/±Inf, or quantized precision > 28 i.e.
    * |x| ≥ ~10¹⁰).
    *
    * Bit-identity argument: Spark's cast quantizes d, the SHORTEST
    * decimal representation of x (`Decimal(d: Double)` goes through
    * `Double.toString`), at scale 18 HALF_UP. This parser consumes that
    * same string — sign, significant digits d₁…d_nd (d₁ ≠ 0, nd ≤ 17),
    * and decimal exponent E with value = 0.d₁…d_nd · 10^E — and places
    * the digits directly into the scale-18 unscaled split:
    * with p = E − nd + 18 zeros to append (p ≥ 0) the digits land
    * exactly; with p < 0 the last −p digits drop under HALF_UP, which
    * over decimal digits is exactly "round up iff the first dropped
    * digit ≥ 5" (remainder ≥ half ⇔ first dropped digit ≥ 5, ties
    * included). Precision of the quantized value is nd + p when p ≥ 0
    * (> 28 ⇒ the cast's changePrecision overflow ⇒ null) and ≤ 18 when
    * p < 0 (|x| < 0.1 there). Any input outside the Double.toString
    * grammar falls back to the BigDecimal ground truth — never guesses.
    * NativeExprSpec exhausts this against [[DotProductDec18.q18OrNull]]
    * across magnitude bands, subnormals, ties, and zeros. */
  def quantize18(x: Double, out: Array[Long]): Boolean = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x))
      return false
    val s = java.lang.Double.toString(x)
    val n = s.length
    var i = 0
    val neg = s.charAt(0) == '-'
    if (neg) i = 1
    var dig = 0L
    var nd = 0
    var e = 0
    var sawNonzero = false
    var sawDot = false
    var ok = true
    var done = false
    while (i < n && !done && ok) {
      val ch = s.charAt(i)
      if (ch == '.') {
        if (sawDot) ok = false
        sawDot = true
      } else if (ch >= '0' && ch <= '9') {
        if (ch != '0') sawNonzero = true
        if (sawNonzero) {
          if (nd >= 18) ok = false // toString never exceeds 17 sig digits
          else { dig = dig * 10L + (ch - '0'); nd += 1 }
          if (!sawDot) e += 1
        } else if (sawDot) e -= 1 // leading fraction zeros shift E down
        // leading integer zeros ("0.x") contribute nothing to E
      } else if (ch == 'E' || ch == 'e') {
        done = true
      } else ok = false
      i += 1
    }
    if (ok && done) { // exponent suffix
      var eneg = false
      if (i < n && (s.charAt(i) == '-' || s.charAt(i) == '+')) {
        eneg = s.charAt(i) == '-'
        i += 1
      }
      var ev = 0
      if (i >= n) ok = false
      while (i < n && ok) {
        val ch = s.charAt(i)
        if (ch >= '0' && ch <= '9') {
          ev = ev * 10 + (ch - '0')
          if (ev > 400) ok = false // |double exponent| < 325 always
        } else ok = false
        i += 1
      }
      if (ok) e += (if (eneg) -ev else ev)
    }
    if (!ok) return quantize18Slow(x, out)
    if (dig == 0L) { out(0) = 0L; out(1) = 0L; return true }
    val p = e - nd + 18
    var hi = 0L
    var lo = 0L
    if (p >= 0) {
      if (nd + p > 28) return false // precision-28 cast overflow → null
      if (p >= 18) { hi = dig * POW10(p - 18); lo = 0L }
      else {
        val div = POW10(18 - p)
        hi = dig / div
        lo = (dig % div) * POW10(p)
      }
    } else {
      val k = -p
      if (k > nd) { out(0) = 0L; out(1) = 0L; return true } // rounds to 0
      var kept = dig / POW10(k)
      if ((dig / POW10(k - 1)) % 10L >= 5L) kept += 1L // HALF_UP
      lo = kept // < 10¹⁸: nd − k ≤ 17 digits, +1 cannot cross
    }
    if (neg) { out(0) = -hi; out(1) = -lo } else { out(0) = hi; out(1) = lo }
    true
  }

  /** BigDecimal ground-truth fallback — the exact cast sequence
    * ([[DotProductDec18.q18OrNull]]) with the unscaled value split by
    * BigInteger divmod. Only reached if Double.toString ever emits
    * something outside the grammar above (it doesn't; insurance). */
  private def quantize18Slow(x: Double, out: Array[Long]): Boolean = {
    val q = DotProductDec18.q18OrNull(x)
    if (q == null) return false
    val dr = q.unscaledValue.divideAndRemainder(Dec18Sums.TEN18)
    out(0) = dr(0).longValueExact()
    out(1) = dr(1).longValueExact()
    true
  }
}
