package graft

import graft.functions.GraftExtensions
import graft.functions.expr.DurationSeconds
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Native DurationSeconds expression: interpreted + codegen parity, SQL
  * registration via SparkSessionExtensions. */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  private val cases = Seq(
    "PT1H2M3S" -> 3723L, "P1DT1S" -> 86401L, "P2D" -> 172800L,
    "PT45S" -> 45L, "P" -> 0L, "bogus" -> 0L, "" -> 0L)

  test("static parse matches the reference semantics") {
    cases.foreach { case (in, want) =>
      assert(DurationSeconds.parse(UTF8String.fromString(in)) == want, in)
    }
    assert(DurationSeconds.parse(null) == 0L)
  }

  test("interpreted and codegen paths agree on a real frame") {
    val df = cases.map(_._1).toDF("d")
    // codegen on (default)
    val gen = df.select(graft.operators.Summaries.durationSeconds($"d"))
      .collect().map(_.getLong(0))
    assert(gen.toSeq == cases.map(_._2))
    // force interpreted eval
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select(graft.operators.Summaries.durationSeconds($"d"))
        .collect().map(_.getLong(0))
      assert(interp.toSeq == cases.map(_._2))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("dot_product: bit-parity with the HOF fold, null elements, SQL registration") {
    val hof = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val df = Seq(
      (Seq(1.5, -2.25, 3.125), Seq(0.5, 4.0, -1.0)),
      (Seq(0.1, 0.2, 0.3), Seq(0.3, 0.2, 0.1)))
      .toDF("a", "b")
    val native = df.select(graft.operators.Similarity.dot($"a", $"b"))
      .collect().map(_.getDouble(0))
    val folded = df.select(hof($"a", $"b")).collect().map(_.getDouble(0))
    // same fold order → identical bits, not just approximately equal
    assert(native.toSeq.map(java.lang.Double.doubleToLongBits) ==
      folded.toSeq.map(java.lang.Double.doubleToLongBits))

    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(viaSql == 11.0)
  }

  test("duration_seconds registers as a SQL function") {
    GraftExtensions.register(spark)
    val r = spark
      .sql("SELECT duration_seconds('PT2M3S') AS s, duration_seconds(NULL) AS n")
      .head()
    assert(r.getLong(0) == 123L)
    assert(r.isNullAt(1)) // raw expression is null-intolerant; wrapper adds the 0
  }

  test("type check rejects non-string input") {
    val e = intercept[Exception] {
      Seq(1, 2).toDF("n")
        .select(org.apache.spark.sql.graftbridge.Bridge.column(
          DurationSeconds(org.apache.spark.sql.graftbridge.Bridge.expression($"n"))))
        .collect()
    }
    assert(e.getMessage.contains("duration_seconds") ||
      e.getMessage.toLowerCase.contains("data type"))
  }

  test("nfc_normalize: composes decomposed text, fast-path identity, SQL registration") {
    import graft.functions.expr.NfcNormalize
    val decomposed = "cafe\u0301" // e + combining acute (NFD)
    val composed = "caf\u00e9"    // precomposed (NFC)
    // static semantics
    assert(NfcNormalize.normalize(UTF8String.fromString(decomposed)).toString == composed)
    assert(NfcNormalize.normalize(UTF8String.fromString("plain ascii")).toString == "plain ascii")
    assert(NfcNormalize.normalize(null) == null)
    // NFC keeps compatibility chars (ligature U+FB01 -- NFKC would expand it)
    assert(NfcNormalize.normalize(UTF8String.fromString("\ufb01le")).toString == "\ufb01le")
    // idempotence + already-NFC fast path returns the same object
    val once = NfcNormalize.normalize(UTF8String.fromString("A\u030angstro\u0308m"))
    assert(once.toString == "\u00c5ngstr\u00f6m")
    assert(NfcNormalize.normalize(once) eq once)
    // SQL registration + codegen path over a frame
    GraftExtensions.register(spark)
    val r = spark.sql(
      s"SELECT nfc_normalize('$decomposed') AS c, length(nfc_normalize('$decomposed')) AS n, " +
        "nfc_normalize(CAST(NULL AS STRING)) AS z")
      .head()
    assert(r.getString(0) == composed && r.getInt(1) == 4 && r.isNullAt(2))
    // interpreted parity
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val i = spark.sql(s"SELECT nfc_normalize('$decomposed') AS c").head().getString(0)
      assert(i == composed)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("luhn_valid: checksum, separators, length bounds, SQL + codegen parity") {
    import graft.functions.expr.LuhnValid
    def chk(s: String) = LuhnValid.check(UTF8String.fromString(s))
    // classic valid test numbers — bare, spaced, dashed
    assert(chk("4111111111111111"))
    assert(chk("4111 1111 1111 1111"))
    assert(chk("5500-0055-5555-5559"))
    assert(chk("4222222222222"))          // 13-digit Visa test number
    // single-digit corruption flips the checksum
    assert(!chk("4111111111111112"))
    // length bounds: 12 digits too short even when mod-10 holds (all-zero
    // sums to 0), 20 digits too long
    assert(!chk("000000000000"))          // 12 digits, sum 0
    assert(!chk("41111111111111111111")) // 20 digits
    // non-separator characters make it a non-card, and null is false
    assert(!chk("4111a111111111111"))
    assert(!chk(""))
    assert(!LuhnValid.check(null))

    // SQL registration + codegen/interpreted parity on a frame
    GraftExtensions.register(spark)
    val sql = "SELECT luhn_valid('4111 1111 1111 1111') AS a, " +
      "luhn_valid('4111111111111112') AS b, " +
      "luhn_valid(CAST(NULL AS STRING)) AS z"
    val g = spark.sql(sql).head()
    assert(g.getBoolean(0) && !g.getBoolean(1) && g.isNullAt(2))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val i = spark.sql(sql).head()
      assert(i.getBoolean(0) && !i.getBoolean(1) && i.isNullAt(2))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("pair_moments_dec6: every moment bit-equals the SQL decimal-sum " +
    "formulation on adversarial values (ties, negatives, non-finite, " +
    "precision overflow, nulls)") {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.functions._
    // rows designed to hit every path: plain values, >6-decimal values
    // (fast path), exact scale-6 ties (slow path, HALF_UP), negatives,
    // big magnitudes (long-overflow spill band), 1e11+ (slow path),
    // >= 1e22 products (precision-28 overflow -> skipped), NaN/Inf
    // (skipped), and a null row (complete-case upstream filter)
    val rows: Seq[(java.lang.Double, java.lang.Double, java.lang.Double)] =
      Seq(
        (1.5, 2.25, -3.125),
        (1.0000005, -2.0000015, 0.0000005),
        (12345.678901234, -98765.432109876, 3.14159265358979),
        (55321.95, 44210.87, 0.07),
        (1.0e11, 2.0e11, -1.5e11),
        (1.0e22, 1.0e22, 1.0e22),
        (Double.NaN, 5.0, 6.0),
        (Double.PositiveInfinity, 7.0, Double.NegativeInfinity),
        (null, 9.0, 10.0),
        (-0.0, 0.0, 123.4567894999)
      )
    val df = rows.toDF("a", "b", "c")
    val cols = Seq("a", "b", "c")
    val filtered = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(28,6)")
    // the OLD formulation, term by term — the established oracle shape.
    // The aggregate mirrors the PERMISSIVE (non-ANSI) cast semantics
    // (overflow/non-finite → null, skipped by sum) so a NaN or huge
    // value can't crash a whole stats job — flip ansi off to express
    // that ground truth (Spark 4 defaults it on).
    val oldAgg = {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try filtered.agg(
        count(lit(1)).cast("double").as("n"),
        sum(dec($"a")).cast("double").as("m0"),
        sum(dec($"b")).cast("double").as("m1"),
        sum(dec($"c")).cast("double").as("m2"),
        sum(dec($"a" * $"a")).cast("double").as("m3"),
        sum(dec($"b" * $"b")).cast("double").as("m4"),
        sum(dec($"c" * $"c")).cast("double").as("m5"),
        sum(dec($"a" * $"b")).cast("double").as("m6"),
        sum(dec($"a" * $"c")).cast("double").as("m7"),
        sum(dec($"b" * $"c")).cast("double").as("m8")).head()
      finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
    val momCol = Bridge.column(graft.functions.expr.PairMomentsDec6(
      Bridge.expression(array($"a".cast("double"), $"b".cast("double"),
        $"c".cast("double"))), 3).toAggregateExpression())
    val mom = filtered.agg(momCol.as("m")).head().getSeq[Any](0)
    assert(mom.length == 10)
    (0 to 9).foreach { i =>
      val exp = if (oldAgg.isNullAt(i)) null else oldAgg.getDouble(i)
      val got = mom(i)
      assert(got == exp, s"moment $i: got $got, SQL formulation $exp")
    }
    // and the public operator agrees with an inline old-style replay
    val cm = graft.operators.Stats
      .correlationMatrix(df, cols).orderBy("col_x", "col_y").collect()
    assert(cm.length == 3)
    def m(i: Int) = oldAgg.getDouble(i)
    val expAb = BigDecimal(math.floor((m(0) * m(6) - m(1) * m(2)) /
      math.sqrt((m(0) * m(3) - m(1) * m(1)) *
        (m(0) * m(4) - m(2) * m(2))) * 1e6 + 0.5) / 1e6).toDouble
    val gotAb = cm.find(r => r.getString(0) == "a" && r.getString(1) == "b")
      .get.getDouble(2)
    assert(math.abs(gotAb - expAb) < 2e-6, s"corr(a,b): $gotAb vs $expAb")
  }

  test("quantize18 bit-equals the BigDecimal double→DECIMAL(28,18) cast " +
    "over edge cases and a 200k random-bits sweep") {
    import graft.functions.expr.{DotProductDec18, VecMomentsDec18}
    val TEN18 = java.math.BigInteger.valueOf(1000000000000000000L)
    val out = new Array[Long](2)
    def check(x: Double): Unit = {
      val ok = VecMomentsDec18.quantize18(x, out)
      val ref = DotProductDec18.q18OrNull(x)
      if (ref == null) assert(!ok, s"$x: parser kept a null-cast term")
      else {
        assert(ok, s"$x: parser dropped an in-precision term")
        assert(math.abs(out(1)) < 1000000000000000000L,
          s"$x: lo out of range ${out(1)}")
        val got = new java.math.BigDecimal(
          java.math.BigInteger.valueOf(out(0)).multiply(TEN18)
            .add(java.math.BigInteger.valueOf(out(1))), 18)
        assert(got.compareTo(ref) == 0, s"$x: got $got want $ref")
      }
    }
    Seq(0.0, -0.0, 1.0, -1.0, 0.5, 2.0 / 3.0, math.Pi, -math.E,
      1e-18, 5e-19, 4.999e-19, 1.5e-19, -5e-19, 1e-3, 1e-4, 9.99e-4,
      0.001234, 0.0012345678901234567, 1e7, 9999999.999, 1.0e10,
      9.999999999e9, 9.999999999999998e9, 1.2345678901234567e9,
      123456.789012345678, 1000.0, 55321.95, -98765.432109876,
      java.lang.Double.MIN_VALUE, -java.lang.Double.MIN_VALUE, 4.9e-324,
      1e-308, java.lang.Double.MAX_VALUE, 1e300, -1e300,
      0.49999999999999994, 0.5000000000000001).foreach(check)
    assert(!VecMomentsDec18.quantize18(Double.NaN, out))
    assert(!VecMomentsDec18.quantize18(Double.PositiveInfinity, out))
    assert(!VecMomentsDec18.quantize18(Double.NegativeInfinity, out))
    // full-bit-pattern sweep: every magnitude band incl. subnormals
    val rnd = new scala.util.Random(20260816L)
    var i = 0
    while (i < 200000) {
      val x = java.lang.Double.longBitsToDouble(rnd.nextLong())
      if (!x.isNaN && !x.isInfinite) check(x)
      i += 1
    }
    // dense band around typical embedding magnitudes
    i = 0
    while (i < 50000) {
      check((rnd.nextDouble() - 0.5) *
        math.pow(10.0, rnd.between(-22, 12)))
      i += 1
    }
  }

  test("Dec18Sums: carry normalization and hi-overflow spill stay exact") {
    import graft.functions.expr.Dec18Sums
    val TEN18 = java.math.BigInteger.valueOf(1000000000000000000L)
    def bd(hi: Long, lo: Long) = new java.math.BigDecimal(
      java.math.BigInteger.valueOf(hi).multiply(TEN18)
        .add(java.math.BigInteger.valueOf(lo)), 18)
    val s = new Dec18Sums(1)
    var ref = java.math.BigDecimal.ZERO
    // carries in both directions
    Seq((0L, 999999999999999999L), (0L, 999999999999999999L),
      (-3L, -999999999999999999L), (5L, 1L),
      (0L, -999999999999999999L)).foreach { case (h, l) =>
      s.addParsed(0, h, l); ref = ref.add(bd(h, l))
      assert(math.abs(s.lo(0)) < 1000000000000000000L)
      assert(s.total(0).compareTo(ref) == 0)
    }
    // force the hi two's-complement overflow spill path
    val big = Long.MaxValue / 2 + 5L
    (1 to 4).foreach { _ =>
      s.addParsed(0, big, 0L); ref = ref.add(bd(big, 0L))
      assert(s.total(0).compareTo(ref) == 0, "spill lost exactness")
    }
    (1 to 4).foreach { _ =>
      s.addParsed(0, -big, -7L); ref = ref.add(bd(-big, -7L))
      assert(s.total(0).compareTo(ref) == 0, "negative spill lost exactness")
    }
  }

  test("vec_moments_dec18: base and apply modes bit-equal the posexplode " +
    "SQL decimal-sum formulation (nulls, non-finite, overflow, ragged)") {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.functions._
    val rows: Seq[Seq[java.lang.Double]] = Seq(
      Seq[java.lang.Double](1.5, -2.25, 3.125),
      Seq[java.lang.Double](0.1, 0.2, 0.3),
      Seq[java.lang.Double](null, 5.0, -7.5),
      Seq[java.lang.Double](1.0e22, Double.NaN, 2.0),
      Seq[java.lang.Double](12345.6789, -5.0e-7, 99999.5),
      null,
      Seq[java.lang.Double](4.0, 5.0))
    val df = rows.toDF("xs").select($"xs".cast("array<double>").as("xs"))
    def dec18(c: org.apache.spark.sql.Column) = c.cast("decimal(28,18)")
    def withAnsiOff[T](f: => T): T = {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try f finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
    def slot(m: Seq[java.lang.Double], i: Int): Any =
      if (m(i) == null) null else m(i).doubleValue
    // ---- base mode: per-dim cnt / Σdec18(x) / Σdec18(x²)
    val oldBase = withAnsiOff {
      df.select(posexplode($"xs").as(Seq("d0", "x")))
        .groupBy("d0")
        .agg(sum(dec18($"x")).cast("double").as("sx"),
          sum(dec18($"x" * $"x")).cast("double").as("sxx"),
          count(lit(1)).as("cnt"))
        .orderBy("d0").collect()
    }
    val baseAgg = Bridge.column(graft.functions.expr.VecMomentsDec18(
      Bridge.expression($"xs"),
      Bridge.expression(lit(Array.empty[Double])), 0,
      wantBase = true).toAggregateExpression())
    val mb = df.agg(baseAgg.as("m")).head().getSeq[java.lang.Double](0)
    val d = mb(0).doubleValue.toInt
    assert(d == 3 && oldBase.length == 3)
    (0 until d).foreach { i =>
      assert(mb(2 + i).doubleValue == oldBase(i).getLong(3).toDouble,
        s"cnt($i)")
      val wantSx = if (oldBase(i).isNullAt(1)) null
        else oldBase(i).getDouble(1)
      val wantSxx = if (oldBase(i).isNullAt(2)) null
        else oldBase(i).getDouble(2)
      assert(slot(mb, 2 + d + i) == wantSx, s"sx($i)")
      assert(slot(mb, 2 + 2 * d + i) == wantSxx, s"sxx($i)")
    }
    // ---- apply mode: per-dim Σdec18(x·u_c) + dim-0 Σdec18(u_c), c = 2
    val u0 = coalesce(element_at($"xs", 1), lit(0.0)) * lit(1.5) - lit(0.25)
    val u1 = coalesce(element_at($"xs", 2), lit(Double.NaN))
    val oldApply = withAnsiOff {
      df.select($"xs", u0.as("u0"), u1.as("u1"))
        .select($"u0", $"u1", posexplode($"xs").as(Seq("d0", "x")))
        .groupBy("d0")
        .agg(sum(dec18($"x" * $"u0")).cast("double").as("sa0"),
          sum(dec18($"u0")).cast("double").as("sb0"),
          sum(dec18($"x" * $"u1")).cast("double").as("sa1"),
          sum(dec18($"u1")).cast("double").as("sb1"))
        .orderBy("d0").collect()
    }
    val applyAgg = Bridge.column(graft.functions.expr.VecMomentsDec18(
      Bridge.expression($"xs"), Bridge.expression(array(u0, u1)), 2,
      wantBase = false).toAggregateExpression())
    val ma = df.agg(applyAgg.as("m")).head().getSeq[java.lang.Double](0)
    assert(ma(0).doubleValue.toInt == d)
    (0 to 1).foreach { ci =>
      val wantSb = if (oldApply(0).isNullAt(2 + 2 * ci)) null
        else oldApply(0).getDouble(2 + 2 * ci)
      assert(slot(ma, 2 + d + ci) == wantSb, s"sb($ci)")
      (0 until d).foreach { i =>
        val wantSa = if (oldApply(i).isNullAt(1 + 2 * ci)) null
          else oldApply(i).getDouble(1 + 2 * ci)
        assert(slot(ma, 2 + d + 2 + ci * d + i) == wantSa, s"sa($ci)($i)")
      }
    }
    // serialize/deserialize round-trip exercised by forcing a 2-partition
    // aggregation (partial buffers must merge through the wire format)
    val mb2 = df.repartition(2).agg(baseAgg.as("m")).head()
      .getSeq[java.lang.Double](0)
    assert(mb2 == mb, "partial-merge path diverged from single-partition")
  }

  test("sum_dec18 bit-equals sum(CAST(x AS DECIMAL(28,18))) cast to " +
    "double, per group, including null/non-finite/overflow terms") {
    import graft.functions.expr.SumDec18.sumDec18
    import org.apache.spark.sql.functions._
    val rows: Seq[(Long, java.lang.Double)] = Seq(
      (1L, 1.5), (1L, -2.25), (1L, 0.0000005), (1L, 55321.95),
      (2L, Double.NaN), (2L, 3.25), (2L, 1.0e22), (2L, -5.0e-19),
      (3L, null), (3L, Double.PositiveInfinity),
      (4L, 12345.678901234), (4L, -12345.678901234))
    val df = rows.toDF("g", "x")
    val got = df.groupBy("g").agg(sumDec18(col("x")).as("s"))
      .orderBy("g").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else r.getDouble(1): Any)).toMap
    val want = {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try df.groupBy("g")
        .agg(sum(col("x").cast("decimal(28,18)")).cast("double").as("s"))
        .orderBy("g").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
          else r.getDouble(1): Any)).toMap
      finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
    assert(got == want, s"got $got want $want")
    // group 3: every term cast-nulls → the sum is null, not 0
    assert(got(3L) == null)
    // partial-merge path: 3 partitions force serialize/merge
    val merged = df.repartition(3).groupBy("g")
      .agg(sumDec18(col("x")).as("s")).orderBy("g").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else r.getDouble(1): Any)).toMap
    assert(merged == want, "partial-merge diverged")
  }

  test("gather_sum_dec18 equals the join + decimal-sum formulation; " +
    "out-of-range and null entries contribute nothing") {
    import graft.functions.expr.GatherSumDec18.gatherSumDec18
    import org.apache.spark.sql.functions._
    val w = Array(0.125, -3.5, 0.0000005, 55321.95, Double.NaN)
    val docs = Seq(
      (10L, Seq(0L, 2L, 3L)),
      (11L, Seq(1L, 1L, 3L)), // duplicate index contributes twice
      (12L, Seq(4L)),         // NaN weight: term skipped → sum 0
      (13L, Seq(99L, -1L, 0L)), // out-of-range skipped
      (14L, Seq.empty[Long]))
      .toDF("id", "bs")
    val got = docs.select(col("id"), gatherSumDec18(col("bs"), lit(w)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // SQL replay: explode + join on index + decimal sum
    val wDf = w.toSeq.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("b", "wv")
    val want = {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try docs.select(col("id"), explode(col("bs")).as("b"))
        .join(wDf, "b")
        .groupBy("id")
        .agg(sum(col("wv").cast("decimal(28,18)")).cast("double").as("s"))
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) 0.0
          else r.getDouble(1))).toMap
      finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
    want.foreach { case (id, s) =>
      assert(got(id) == s, s"id $id: got ${got(id)} want $s") }
    assert(got(12L) == 0.0 && got(13L) == w(0) && got(14L) == 0.0)
  }

  test("the GD kernel's bucket scatter equals the explode + groupBy " +
    "decimal-sum formulation slot for slot; merge path and edge inputs pinned") {
    import graft.functions.expr.Dec18Sums
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (10L, Seq(0L, 3L), 0.125),
      (11L, Seq(1L, 1L, 3L), -3.5),      // duplicate index lands twice
      (12L, Seq(2L), Double.NaN),        // NaN value: row skipped whole
      (13L, Seq(99L, -1L, 0L), 0.0000005), // out-of-range skipped
      (14L, Seq.empty[Long], 7.0),       // empty index array
      (15L, Seq(3L), 55321.95))
    val docs = rows.toDF("id", "bs", "v")
    // the kernel's per-row accumulate (Dec18Sums.addEach) over a slice of
    // the rows, then its partial merge (Dec18Sums.mergeFrom)
    def scatter(part: Seq[(Long, Seq[Long], Double)]): Dec18Sums = {
      val acc = new Dec18Sums(5)
      val scratch = new Array[Long](2)
      part.foreach { case (_, bs, v) =>
        acc.addEach(UnsafeArrayData.fromPrimitiveArray(bs.toArray), v, scratch) }
      acc
    }
    def slots(acc: Dec18Sums): Seq[Any] =
      (0 until 5).map(t => if (acc.seen(t)) acc.total(t).doubleValue else null)
    val got = slots(scatter(rows))
    // SQL replay: explode + per-bucket decimal sum — slots with no
    // surviving term are null
    val want = {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try {
        val m = docs.select(explode(col("bs")).as("b"), col("v"))
          .filter(col("b") >= 0 && col("b") < 5)
          .groupBy("b")
          .agg(sum(col("v").cast("decimal(28,18)")).cast("double").as("s"))
          .collect()
          .map(r => r.getLong(0).toInt ->
            (if (r.isNullAt(1)) null else r.getDouble(1): Any)).toMap
        (0 until 5).map(m.getOrElse(_, null))
      } finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
    assert(got == want, s"got $got want $want")
    // slot 2 only saw the NaN row → null (SQL sum-over-nulled-casts);
    // slot 4 never named → null; slot 1 carries the duplicate twice
    assert(got(2) == null && got(4) == null && got(1) == -7.0)
    // partial-merge path: three partials merged in either order
    val parts = rows.grouped(2).map(scatter).toSeq
    val merged = parts.reduce { (a, b) => a.mergeFrom(b); a }
    assert(slots(merged) == want, "partial-merge diverged")
    val back = rows.grouped(2).map(scatter).toSeq.reverse
      .reduce { (a, b) => a.mergeFrom(b); a }
    assert(slots(back) == want, "reverse merge diverged")
  }

  test("dot_product_dec18 skips non-finite and precision-overflow terms " +
    "like the SQL cast (a NaN embedding no longer crashes the job)") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (Seq(1.0, Double.NaN, 2.0, 1.0e11, Double.PositiveInfinity),
       Seq(2.0, 3.0, Double.NaN, 1.0e11, 1.0))).toDF("a", "b")
    import org.apache.spark.sql.graftbridge.Bridge
    val dot18 = Bridge.column(graft.functions.expr.DotProductDec18(
      Bridge.expression($"a"), Bridge.expression($"b")))
    val got = df.select(dot18.as("d")).head().getDouble(0)
    // surviving terms: 1*2 = 2 (NaN products, and the 1e22 product that
    // overflows DECIMAL(28,18) precision, are all skipped — matching
    // sum(CAST(.. AS DECIMAL(28,18))) null-skip semantics)
    assert(got == 2.0, s"got $got")
    // SQL-side replay of the same semantics (permissive cast: ansi off;
    // the sum over DECIMAL(28,18) terms skips the nulled casts — the
    // aggregate shape every oracle uses)
    val sql = {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try df.select(explode(arrays_zip($"a", $"b")).as("t"))
        .agg(sum(expr("CAST(t.a * t.b AS DECIMAL(28,18))"))
          .cast("double").as("s")).head().getDouble(0)
      finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
    assert(got == sql, s"native $got vs SQL $sql")
    // driver-side twin agrees
    import graft.functions.expr.DotProductDec18.dotArr
    assert(dotArr(Array(1.0, Double.NaN, 2.0, 1.0e11),
      Array(2.0, 3.0, Double.NaN, 1.0e11)) == 2.0)
  }

  test("minhash_sig equals the explode + groupBy formulation slot for slot, " +
    "with null elements and empty arrays") {
    import graft.functions.expr.MinHashSig.minhashSig
    val n = 6
    val sets = Seq(
      (1L, Some(Seq(Some("a b c"), Some("b c d"), Some("c d e")))),
      (2L, Some(Seq(Some("x"), None, Some("y")))),  // a null element
      (3L, Some(Seq(None, None))),                   // only null elements
      (4L, Some(Seq.empty[Option[String]])),         // empty set
      (5L, None),                                    // null set
      (6L, Some(Seq(Some("\u00fc \u00df \u6f22"), Some(""), Some("a b c")))))
      .toDF("id", "shs")
    // a missing reference row (empty set) reads as all-null slots
    val want = MinHashLshSpec.signatures(sets, n).collect()
      .map(r => r.getLong(0) -> (1 to n).map(i =>
        if (r.isNullAt(i)) None else Some(r.getLong(i)))).toMap
    def kernel(): Map[Long, Option[Seq[Option[Long]]]] =
      sets.select(col("id"), minhashSig(col("shs"), n)).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
          else Some(r.getSeq[Any](1).map(v => Option(v).map(_.asInstanceOf[Long])))))
        .toMap
    def check(got: Map[Long, Option[Seq[Option[Long]]]]): Unit = {
      assert(got(5L).isEmpty, "a null set has a null signature")
      for (id <- Seq(1L, 2L, 3L, 4L, 6L))
        assert(got(id).contains(want.getOrElse(id, Seq.fill(n)(None))),
          s"id $id: ${got(id)} vs ${want.get(id)}")
    }
    assert(want(2L).forall(_.isDefined) && want(3L).forall(_.isEmpty) &&
      !want.contains(4L))
    check(kernel())
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try check(kernel())
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
