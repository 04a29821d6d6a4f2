package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  new java.io.File(System.getProperty("java.io.tmpdir")).mkdirs()
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def frame = {
    import spark.implicits._
    Seq((1L, "a", 0.1 + 0.2, Seq(1.5, 2.0)), (2L, null, -0.0, Seq.empty[Double]),
      (2L, null, -0.0, Seq.empty[Double]), (3L, "c", Double.NaN, Seq(0.3)))
      .toDF("id", "s", "x", "v")
  }

  test("row order and partitioning do not change the fingerprint") {
    val fp = Fingerprint.of(frame)
    assert(fp.rows == 4)
    assert(Fingerprint.of(frame.orderBy(org.apache.spark.sql.functions.desc("id"))) == fp)
    assert(Fingerprint.of(frame.repartition(5)) == fp)
    assert(Fingerprint.of(frame.coalesce(1)) == fp)
  }

  test("a changed value, a lost duplicate or a new column changes it") {
    import org.apache.spark.sql.functions._
    val fp = Fingerprint.of(frame)
    assert(Fingerprint.of(frame.withColumn("s", coalesce(col("s"), lit("b")))) != fp)
    assert(Fingerprint.of(frame.dropDuplicates()) != fp)
    assert(Fingerprint.of(frame.withColumn("y", lit(1))) != fp)
  }

  test("a null moved to another column or a column of nulls changes it") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val a = Seq[(String, String)](("x", null)).toDF("p", "q")
    val b = Seq[(String, String)]((null, "x")).toDF("p", "q")
    assert(Fingerprint.of(a) != Fingerprint.of(b))
    val fp = Fingerprint.of(frame)
    assert(Fingerprint.of(frame.withColumn("n", lit(null).cast("string"))) != fp)
  }

  test("floating noise below 9 decimals and the sign of zero are ignored") {
    import org.apache.spark.sql.functions._
    val fp = Fingerprint.of(frame)
    val noisy = frame.withColumn("x", col("x") + lit(1e-12))
      .withColumn("v", transform(col("v"), e => e - lit(1e-13)))
    assert(Fingerprint.of(noisy) == fp)
  }
}
