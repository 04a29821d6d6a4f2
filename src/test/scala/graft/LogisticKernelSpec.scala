package graft

import graft.functions.Curation
import graft.functions.expr.{Dec18Sums, VecMomentsDec18}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, NullType}

/** The logistic family's GD kernel ([[Curation.logisticFit]]) against
  * the SQL formulation it replaced, kept here as the reference: the
  * exploded, persisted feature frame, the per-doc frame with its
  * class-count and seen-bucket actions, and one
  * `select(scatter_sum(__bs, residual))` aggregate per GD step, with the
  * curve's loss as a second `sum_dec18` action per step. Weights, losses
  * and norms must be bit-equal; multi-model fits must equal their own
  * single-model trainings; the trainers keep to a job budget and leave
  * no cache behind. */
class LogisticKernelSpec extends SparkSpec {
  import spark.implicits._
  import LogisticKernelSpec._

  private def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def kernelFit(df: DataFrame, label: Column, dim: Int, iters: Int,
      bigrams: Boolean = false): Curation.LogisticFit = {
    val docs = Curation.logisticDocs(df, "id", "text", label, dim, bigrams,
      _ => lit(0L))
    try Curation.logisticFit(docs, dim, iters, 0.5, Array(1L), Array(-1L),
      traced = true).head
    finally docs.unpersist()
  }

  private def assertSame(what: String, got: Curation.LogisticFit,
      want: RefFit): Unit = {
    assert(got.seen.toSeq == want.seen.toSeq, s"$what: seen buckets")
    assert(got.n == want.n, s"$what: n")
    assert(bits(got.w) == bits(want.w),
      s"$what: weights ${got.w.toSeq} vs ${want.w.toSeq}")
    assert(got.curve.map(c => bits(Array(c._1, c._2))) ==
      want.curve.map(c => bits(Array(c._1, c._2))),
      s"$what: curve ${got.curve} vs ${want.curve}")
  }

  /** 240 docs over a 40-word vocabulary: a marker word, repeated words,
    * null labels, token-free and null texts, and ids that repeat with
    * further text. */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 240).map { i =>
      val n = rnd.nextInt(9)
      val words = Seq.fill(n)(s"w${rnd.nextInt(40)}")
      val text = i % 37 match {
        case 0 => "!!! ..."
        case 1 => null
        case _ => (if (i % 5 == 0) "marker " else "") + words.mkString(" ")
      }
      val y: Option[Int] = if (i % 23 == 0) None else Some(if (i % 5 == 0 ||
        words.contains("w7")) 1 else 0)
      (if (i % 50 == 49) (i - 1).toLong else i.toLong, text, y)
    }
    rows.toDF("id", "text", "y")
  }
  private val label = col("y") === 1

  for ((dim, iters, bigrams) <- Seq((32, 8, false), (2, 16, false),
      (4096, 1, false), (4096, 16, true), (64, 1, true))) {
    test(s"kernel weights, loss and norm are bit-equal to the SQL step " +
        s"(dim=$dim, iters=$iters, bigrams=$bigrams)") {
      assertSame(s"dim=$dim iters=$iters bigrams=$bigrams",
        kernelFit(corpus, label, dim, iters, bigrams),
        reference(corpus, label, dim, iters, bigrams))
    }
  }

  test("kernel matches the SQL step on a single-class and a token-free corpus") {
    val single = corpus.filter(col("y") === 1)
    assertSame("single-class", kernelFit(single, label, 16, 4),
      reference(single, label, 16, 4, bigrams = false))
    val tokenless = Seq((1L, "!!!", 1), (2L, "", 0), (3L, null, 1))
      .toDF("id", "text", "y")
    val f = kernelFit(tokenless, label, 8, 3)
    assert(f.n == 0.0 && f.seen.isEmpty && f.curve.isEmpty)
    assertSame("token-free", f, reference(tokenless, label, 8, 3, false))
  }

  test("every crossval fold and curve fraction equals its own single-model " +
      "training") {
    val fold = (id: Column) =>
      conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") % 3
    val docs = Curation.logisticDocs(corpus, "id", "text", label, 32,
      bigrams = false, fold)
    val folds =
      try Curation.logisticFit(docs, 32, 6, 0.5, Array.fill(3)(3L),
        Array(0L, 1L, 2L), traced = true)
      finally docs.unpersist()
    for (i <- 0 until 3) {
      val slice = corpus.filter(fold(col("id")) =!= i)
      assertSame(s"fold $i", folds(i), reference(slice, label, 32, 6, false))
    }
    val pct = Seq(10L, 60L, 100L)
    val frac = (id: Column) => conv(substring(md5(concat(lit("f:"),
      id.cast("string"))), 1, 8), 16, 10).cast("long") % 100
    val pool = Curation.logisticDocs(corpus, "id", "text", label, 16,
      bigrams = false, frac)
    val fracs =
      try Curation.logisticFit(pool, 16, 5, 0.5, pct.toArray,
        Array.fill(3)(-1L), traced = true)
      finally pool.unpersist()
    for ((p, f) <- pct.zip(fracs))
      assertSame(s"fraction $p", f,
        reference(corpus.filter(frac(col("id")) < p), label, 16, 5, false))
  }

  private def newCaches[T](body: => T): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
  }

  test("the trainers keep to one job per GD step and leave no cache") {
    def jobs(body: => Any): Int = JobMeter(spark)(body)._2.jobs
    val train = jobs(Curation.logisticTrain(corpus, "id", "text", label,
      iters = 8).collect())
    assert(train <= 8 + 3, s"logisticTrain(iters = 8) ran $train jobs")
    val curve = jobs(Curation.logisticTrainCurve(corpus, "id", "text",
      label, iters = 8).collect())
    assert(curve <= 8 + 3, s"logisticTrainCurve(iters = 8) ran $curve jobs")
    // all k folds step together: a further GD step is one more job
    // however many folds train, and the training part stays in budget
    val cv8 = JobMeter(spark)(Curation.logisticCrossVal(corpus, "id",
      "text", label, k = 3, iters = 8).collect())._2
    val cv1 = jobs(Curation.logisticCrossVal(corpus, "id", "text", label,
      k = 3, iters = 1).collect())
    assert(cv8.jobs - cv1 <= 7,
      s"crossval: 7 more GD steps cost ${cv8.jobs - cv1} jobs for 3 folds")
    assert(cv8.jobsOutsideSql <= 8 + 3,
      s"crossval trained in ${cv8.jobsOutsideSql} jobs")
    assert(cv8.sqlExecutionsWithJobs <= 1,
      s"crossval ran ${cv8.sqlExecutionsWithJobs} SQL actions; only its " +
        "scoring should be one")

    val left = Seq(
      "logisticTrain" -> newCaches(Curation.logisticTrain(corpus, "id",
        "text", label, iters = 2).collect()),
      "logisticScore" -> newCaches(Curation.logisticScore(corpus, "id",
        "text", label, iters = 2).collect()),
      "logisticTrainCurve" -> newCaches(Curation.logisticTrainCurve(corpus,
        "id", "text", label, iters = 2).collect()),
      "logisticCrossVal" -> newCaches(Curation.logisticCrossVal(corpus,
        "id", "text", label, iters = 2).collect()),
      "learningCurve" -> newCaches(Curation.learningCurve(corpus, "id",
        "text", label, iters = 2).collect()))
    for ((name, ids) <- left)
      assert(ids.isEmpty, s"$name left persisted RDDs $ids")
  }
}

object LogisticKernelSpec {

  /** The reference training run's result, shaped like a kernel fit. */
  final case class RefFit(seen: Array[Long], w: Array[Double], n: Double,
      curve: Seq[(Double, Double)])

  /** The SQL formulation the kernel replaced, step for step: hashed
    * presence features + bias as a persisted exploded frame, the per-doc
    * frame, the class counts and seen buckets as two actions, then per GD
    * step the loss as a `sum_dec18` action and the gradient as one
    * `scatter_sum` action, with the same driver-side update and norm. */
  def reference(df: DataFrame, label: Column, dim: Int, iters: Int,
      bigrams: Boolean): RefFit = {
    import graft.functions.expr.DotProductDec18.q18OrNull
    import graft.functions.expr.GatherSumDec18.gatherSumDec18
    import graft.functions.expr.SumDec18.sumDec18
    val base = df.select(col("id"), label.cast("int").as("y"),
      graft.operators.Dedup.words(col("text")).as("__ws"))
    val gramsCol =
      if (!bigrams) array_distinct(col("__ws"))
      else array_distinct(concat(col("__ws"),
        when(size(col("__ws")) >= 2,
          expr("transform(sequence(1, size(__ws) - 1), " +
            "i -> concat(element_at(__ws, i), ' ', element_at(__ws, i + 1)))"))
          .otherwise(expr("array()").cast("array<string>"))))
    val counts = base.select(col("id"), col("y"),
        explode(gramsCol).as("__w"))
      .withColumn("bucket",
        conv(substring(md5(col("__w")), 1, 8), 16, 10).cast("long") % dim)
      .select("id", "y", "bucket").distinct()
      .withColumn("x", lit(1L))
    val feats = counts.unionByName(counts.select(col("id"), col("y"))
        .distinct()
        .select(col("id"), col("y"), lit(dim.toLong).as("bucket"),
          lit(1L).as("x")))
      .repartition(col("id")).persist()
    val docs = feats.groupBy("id", "y")
      .agg(sort_array(collect_list(col("bucket"))).as("__bs"))
      .persist()
    try {
      val cnt = docs.agg(count(lit(1)).cast("double").as("na"),
        sum(when(col("y") === 1, 1L).otherwise(0L)).cast("double").as("np"),
        sum(when(col("y") === 0, 1L).otherwise(0L)).cast("double").as("nn"))
        .head()
      val n = cnt.getDouble(0)
      val np = if (cnt.isNullAt(1)) 0.0 else cnt.getDouble(1)
      val nn = if (cnt.isNullAt(2)) 0.0 else cnt.getDouble(2)
      val wpos = n / (2.0 * math.max(np, 1.0))
      val wneg = n / (2.0 * math.max(nn, 1.0))
      val seen = feats.select("bucket").distinct().collect()
        .map(_.getLong(0)).sorted
      val maxB = if (seen.isEmpty) 0 else seen.max.toInt
      val w = new Array[Double](maxB + 1)
      val curve = Seq.newBuilder[(Double, Double)]
      for (_ <- 1 to iters if n > 0) {
        val z = gatherSumDec18(col("__bs"), lit(w))
        val lsRow = docs.select(
            (when(col("y") === 1, lit(wpos) * log(lit(1.0) + exp(-z)))
              .otherwise(lit(wneg) * log(lit(1.0) + exp(z)))).as("__l"))
          .agg(sumDec18(col("__l")).as("__ls")).head()
        val ls = if (lsRow.isNullAt(0)) 0.0 else lsRow.getDouble(0)
        val resid =
          (lit(1.0) / (lit(1.0) + exp(-z)) - col("y").cast("double")) *
            when(col("y") === 1, lit(wpos)).otherwise(lit(wneg))
        val grads = docs.select(scatterSum(col("__bs"), resid, maxB + 1))
          .head().getSeq[Any](0).iterator.zipWithIndex.collect {
            case (g, b) if g != null => b -> g.asInstanceOf[Double] / n
          }.toMap
        var g2 = java.math.BigDecimal.ZERO
        grads.values.foreach { g =>
          val q = q18OrNull(g * g)
          if (q ne null) g2 = g2.add(q)
        }
        curve += ((ls / n, math.sqrt(g2.doubleValue)))
        grads.foreach { case (b, g) => w(b) -= 0.5 * g }
      }
      RefFit(seen, w, n, curve.result())
    } finally { docs.unpersist(); feats.unpersist() }
  }

  def scatterSum(indices: Column, value: Column, nSlots: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(RefScatterSum(Bridge.expression(indices),
      Bridge.expression(value), nSlots).toAggregateExpression())
  }
}

/** The removed per-step gradient aggregate, kept as the reference: per
  * row, the value quantized once and added into every in-range slot the
  * index array names; the array<double> of slot totals (null where no
  * term landed). */
case class RefScatterSum(left: Expression, right: Expression, nSlots: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Dec18Sums] with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _) | NullType, DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"ref_scatter_sum requires (array<bigint>, double), got " +
          s"${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "ref_scatter_sum"

  override def createAggregationBuffer(): Dec18Sums = new Dec18Sums(nSlots)

  override def update(buf: Dec18Sums, input: InternalRow): Dec18Sums = {
    val bs = left.eval(input)
    val v = right.eval(input)
    if (bs != null && v != null) {
      val scratch = new Array[Long](2)
      if (VecMomentsDec18.quantize18(v.asInstanceOf[Double], scratch)) {
        val arr = bs.asInstanceOf[ArrayData]
        var i = 0
        while (i < arr.numElements()) {
          if (!arr.isNullAt(i)) {
            val b = arr.getLong(i)
            if (b >= 0L && b < nSlots)
              buf.addParsed(b.toInt, scratch(0), scratch(1))
          }
          i += 1
        }
      }
    }
    buf
  }

  override def merge(b1: Dec18Sums, b2: Dec18Sums): Dec18Sums = {
    b1.mergeFrom(b2)
    b1
  }

  override def eval(buf: Dec18Sums): Any = new GenericArrayData(
    Array.tabulate[Any](nSlots)(t =>
      if (buf.seen(t)) buf.total(t).doubleValue else null))

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

  override def withNewMutableAggBufferOffset(newOffset: Int): RefScatterSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): RefScatterSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): RefScatterSum =
    copy(left = newLeft, right = newRight)
}
