package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result fingerprint: the row count plus the sum of a
  * 64-bit hash of every row, over every column. Hashing all columns makes
  * the timed action consume the whole output (a `count()` lets Catalyst
  * prune columns the user pays for); summing makes it independent of row
  * order and partitioning. The sum is split into two 32-bit halves so it
  * cannot overflow under ANSI arithmetic.
  *
  * Floating-point values are rounded to 9 decimals first, the rule the
  * DuckDB comparison uses, so a different summation order inside a query
  * cannot flip the hash. `xxhash64` skips null inputs, so every column is
  * preceded by its own null marker: a null that moves to another column, or
  * a column of nulls that appears or disappears, changes the hash. */
object Fingerprint {

  final case class Fp(rows: Long, lo: Long, hi: Long) {
    def hex: String = f"$rows%d:$lo%016x:$hi%016x"
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      // -0.0 and NaN normalised so equal values hash equal
      val r = round(c.cast(DoubleType), 9)
      when(isnan(r), lit(Double.NaN)).otherwise(r + lit(0.0))
    case ArrayType(et @ (DoubleType | FloatType), _) =>
      transform(c, x => canon(x, et))
    case _ => c
  }

  /** The one-row frame whose collection is the timed action. */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.flatMap { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      Seq(isnull(c), canon(c, f.dataType))
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.select(h.as("h"))
      .agg(count(lit(1)).as("rows"),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"))
  }

  def of(df: DataFrame): Fp = {
    val r = frame(df).head()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
