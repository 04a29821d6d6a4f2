package graft.operators

import graft.model.Template
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Structural/metric counters for one `transform` run, read from named
  * `Dataset.observe` observations placed where the counts are taken: input
  * rows, date and numeric parse failures before the F6 drop, rows before
  * dedupe and output rows. Observations cost no job of their own; the action
  * that runs the frame fills them. Shapes mirror the reference's metrics
  * dict (reference: src/api/v1/engine.py:136-142).
  */
final class TransformMetrics private[operators] (
    inputCols: Int,
    unpivotApplied: Boolean,
    nValueCols: Int,
    unpivotAfterCols: Int,
    own: TransformEngine.Observed,
    rebuild: () => (DataFrame, TransformEngine.Observed),
) {

  /** Exact metrics whatever ran on the returned frame before: an earlier
    * action may have fed its observations too (a sort's sampling job runs
    * the plan once more). So this rebuilds the transform with fresh
    * observations and fills them with one `noop` write. */
  def compute(): Map[String, Any] = measure()._1

  /** [[compute]] plus the output row count. */
  private[graft] def measure(): (Map[String, Any], Long) = {
    val (df, fresh) = rebuild()
    df.write.format("noop").mode("overwrite").save()
    read(fresh)
  }

  /** The metrics and output row count filled by the returned frame's own
    * action, which must be its first and only one. Blocks until that
    * action's completion event arrives on the listener bus. */
  private[graft] def observed(): (Map[String, Any], Long) = read(own)

  private def read(o: TransformEngine.Observed): (Map[String, Any], Long) = {
    // an observation comes back empty when the optimizer proved its input
    // empty and removed it from the plan
    def value(obs: Observation, name: String) =
      obs.get.getOrElse(name, 0L).asInstanceOf[Long]
    val rowsBefore = value(o.input, "rows")
    val rowsAfterUnpivot = if (unpivotApplied) rowsBefore * nValueCols else rowsBefore
    val rowsOut = value(o.output, "rows")
    // every dedupe mode keeps one row per distinct key
    val dedupeDropped = o.preDedupe.fold(0L)(value(_, "rows") - rowsOut)
    (Map(
      "unpivot_before" -> (rowsBefore, inputCols),
      "unpivot_after" -> (rowsAfterUnpivot, if (unpivotApplied) unpivotAfterCols else inputCols),
      "dedupe_dropped" -> dedupeDropped,
      "date_parse_failures" -> value(o.parse, "date_fail"),
      "numeric_parse_failures" -> value(o.parse, "num_fail"),
    ), rowsOut)
  }
}

/** Template-driven transform pipeline: the Spark-native equivalent of the
  * reference's `DataEngine.transform_data` (reference: src/api/v1/engine.py:134-232).
  * Stage order is identical: unpivot (R1) → provider_id (P3) → drop empty rows
  * (F3) → drop null columns (F4/F5) → trim (C5) → strip thousands (C6) →
  * report_date coercion + drop (C1/F6) → sales_amount coercion (C3) →
  * combine_on group-sum (A1) → keyed dedupe (D1).
  *
  * All stages are lazy `DataFrame -> DataFrame` transformations except F4
  * (surviving columns depend on data — one aggregate job) and D1's optional
  * order capture. One deliberate divergence from pandas: `trim_strings` /
  * `strip_thousands` keep nulls null (pandas `.astype(str)` would stringify
  * NaN to "nan" first — a wart, not a feature).
  */
object TransformEngine {

  /** P1 `filter_and_rename` (reference: src/templates.py:484-512).
    * Positional mode when `headers` are present: take the first N columns and
    * rename by alias/mapping; otherwise name mode: subset to
    * `template.columns` ∩ df, rename via `column_mappings`.
    */
  def filterAndRename(df: DataFrame, t: Template): DataFrame = {
    if (t.headers.nonEmpty) {
      val take = math.min(t.headers.length, df.columns.length)
      val picked = df.columns.take(take)
      val exprs = picked.zip(t.headers.take(take)).map { case (actual, hc) =>
        val target = hc.alias.filter(_.nonEmpty)
          .orElse(t.columnMappings.get(hc.name))
          .getOrElse(hc.name)
        col(quoted(actual)).as(target)
      }
      df.select(exprs.toIndexedSeq: _*)
    } else if (t.columns.nonEmpty) {
      val present = t.columns.filter(df.columns.contains)
      if (present.isEmpty) df
      else df.select(present.map(c => col(quoted(c)).as(t.columnMappings.getOrElse(c, c))): _*)
    } else if (t.columnMappings.nonEmpty) {
      df.select(df.columns.toIndexedSeq.map(c => col(quoted(c)).as(t.columnMappings.getOrElse(c, c))): _*)
    } else df
  }

  /** P2 header replacement: overwrite column names wholesale, padding missing
    * names / truncating extras to the frame's width
    * (reference: src/templates.py:468-481). */
  def replaceHeaders(df: DataFrame, names: Seq[String]): DataFrame = {
    val width = df.columns.length
    val padded = names.take(width) ++
      (names.length until width).map(i => s"col_$i")
    df.toDF(padded: _*)
  }

  /** P5 snake_case fallback naming (reference: src/core.py:246-250). */
  def snakeCase(name: String): String =
    name.replaceAll("[^0-9A-Za-z]+", "_").replaceAll("_+", "_")
      .stripPrefix("_").stripSuffix("_").toLowerCase

  /** F3 drop rows where every column is null (reference: src/api/v1/engine.py:165-166). */
  def dropEmptyRows(df: DataFrame): DataFrame = df.na.drop("all")

  /** F4/F5 drop columns whose non-null fraction is below `threshold`.
    * One aggregate of avg(isNotNull) over all columns, then a select —
    * never N per-column jobs (reference: src/api/v1/engine.py:168-176). */
  def dropNullColumns(df: DataFrame, threshold: Double): DataFrame =
    df.select(nullColumnsKept(df, threshold).map(c => col(quoted(c))).toIndexedSeq: _*)

  /** The columns F4 keeps; all of them when none passes the threshold. */
  private def nullColumnsKept(df: DataFrame, threshold: Double): Array[String] = {
    val cols = df.columns
    if (cols.isEmpty) return cols
    val fracs = df.agg(
      avg(col(quoted(cols.head)).isNotNull.cast("double")).as(cols.head),
      cols.tail.toIndexedSeq.map(c => avg(col(quoted(c)).isNotNull.cast("double")).as(c)): _*
    ).head()
    val keep = cols.zipWithIndex.collect {
      case (c, i) if !fracs.isNullAt(i) && fracs.getDouble(i) >= threshold => c
    }
    if (keep.isEmpty) cols else keep
  }

  /** C5 trim all string columns (reference: src/api/v1/engine.py:178-180). */
  def trimStrings(df: DataFrame): DataFrame =
    mapStringCols(df, trim(_))

  /** C6 strip thousands separators (`[,\s]` → "") on all string columns
    * (reference: src/api/v1/engine.py:182-184). */
  def stripThousands(df: DataFrame): DataFrame =
    mapStringCols(df, c => regexp_replace(c, "[,\\s]", ""))

  private def mapStringCols(df: DataFrame, f: Column => Column): DataFrame = {
    val exprs = df.schema.fields.map {
      case StructField(n, StringType, _, _) => f(col(quoted(n))).as(n)
      case StructField(n, _, _, _) => col(quoted(n))
    }
    df.select(exprs.toIndexedSeq: _*)
  }

  /** C1 tolerant date coercion: null on failure, like pandas
    * `to_datetime(errors="coerce")` with format inference
    * (reference: src/api/v1/engine.py:27-33). Already-temporal columns pass
    * through as timestamps. */
  def coerceDate(c: Column, dt: DataType): Column = dt match {
    case TimestampType | DateType => c.cast(TimestampType)
    case _ =>
      val s = trim(c.cast(StringType))
      coalesce(
        try_to_timestamp(s),
        try_to_timestamp(s, lit("yyyy-MM-dd")),
        try_to_timestamp(s, lit("yyyy/MM/dd")),
        try_to_timestamp(s, lit("MM/dd/yyyy")),
        try_to_timestamp(s, lit("dd.MM.yyyy")),
        try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ss")),
      )
  }

  /** C2 tolerant integer coercion → nullable long (reference: src/api/v1/engine.py:34-40). */
  def coerceInt(c: Column, dt: DataType = StringType): Column = dt match {
    case _: NumericType => c.cast(LongType)
    case _ => try_cast_via_double(c, LongType)
  }

  /** C3 tolerant numeric coercion → nullable double (reference: src/api/v1/engine.py:41-47).
    * Already-numeric columns pass through (pandas `to_numeric` is an identity
    * there) — no string round-trip in the hot path. */
  def coerceFloat(c: Column, dt: DataType = StringType): Column = dt match {
    case _: NumericType => c.cast(DoubleType)
    case _ => trim(c.cast(StringType)).try_cast(DoubleType)
  }

  /** C4 string coercion (reference: src/api/v1/engine.py:48-49). */
  def coerceString(c: Column): Column = c.cast(StringType)

  // pandas to_numeric accepts "3.0" for ints; try_cast(string as long) does not,
  // so go through double and reject non-integral values.
  private def try_cast_via_double(c: Column, target: DataType): Column = {
    val d = trim(c.cast(StringType)).try_cast(DoubleType)
    when(d.isNotNull && d === floor(d), d.cast(target))
  }

  /** Apply a `field_types` coercion map (closed vocabulary:
    * date|datetime, int|integer, float|number|numeric, str|string|text),
    * mirroring `_coerce_field_types` (reference: src/api/v1/engine.py:18-52). */
  def coerceFieldTypes(df: DataFrame, fieldTypes: Map[String, String]): DataFrame = {
    fieldTypes.foldLeft(df) { case (d, (name, spec)) =>
      if (!d.columns.contains(name)) d
      else {
        val dt = d.schema(name).dataType
        spec.toLowerCase match {
          case "date" | "datetime" => d.withColumn(name, coerceDate(col(quoted(name)), dt))
          case "int" | "integer" => d.withColumn(name, coerceInt(col(quoted(name)), dt))
          case "float" | "number" | "numeric" => d.withColumn(name, coerceFloat(col(quoted(name)), dt))
          case "str" | "string" | "text" => d.withColumn(name, coerceString(col(quoted(name))))
          case _ => d
        }
      }
    }
  }

  /** A1 `combine_on` group-sum over all numeric non-key columns. Spark's `sum`
    * returns null for an all-null group, which matches pandas
    * `sum(min_count=1)` exactly (reference: src/api/v1/engine.py:199-221). */
  def combineOn(df: DataFrame, keys: List[String], extraGroupCols: List[String]): DataFrame = {
    val present = keys.filter(df.columns.contains)
    if (present.isEmpty) df
    else {
      val groupCols = (present ++ extraGroupCols.filter(df.columns.contains)).distinct
      val numeric = df.schema.fields.collect {
        case StructField(n, _: NumericType, _, _) if !groupCols.contains(n) => n
      }
      if (numeric.isEmpty) df
      else df.groupBy(groupCols.map(c => col(quoted(c))): _*)
        .agg(sum(col(quoted(numeric.head))).as(numeric.head),
          numeric.tail.map(n => sum(col(quoted(n))).as(n)).toIndexedSeq: _*)
    }
  }

  /** D1 keyed dedupe. Parity mode (an `order` column is supplied): keep the
    * first row per key in that order via a window `row_number` — one shuffle.
    * Fast mode (no order): `dropDuplicates`, which keeps an arbitrary row and
    * needs no total order — the right default at 100 TB
    * (reference: src/api/v1/engine.py:223-230; SURVEY §7.4.1). */
  def dedupe(df: DataFrame, keys: List[String], order: Option[Seq[Column]] = None): DataFrame = {
    val present = keys.filter(df.columns.contains)
    if (present.isEmpty) df
    else order match {
      case Some(ord) =>
        val w = Window.partitionBy(present.map(c => col(quoted(c))): _*).orderBy(ord: _*)
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__rn")
      case None => df.dropDuplicates(present)
    }
  }

  /** The named observations of one built transform. */
  private[operators] final case class Observed(input: Observation, parse: Observation,
      preDedupe: Option[Observation], output: Observation)

  // names carry a sequence number: two transforms may meet in one plan
  private val observedSeq = new java.util.concurrent.atomic.AtomicLong()

  private val rows = count(lit(1)).as("rows")

  /** Full `transform_data` pipeline (reference: src/api/v1/engine.py:134-232).
    * Returns the transformed frame plus its metrics, observed in the frame's
    * plan (see [[TransformMetrics]]).
    *
    * @param dedupeOrder optional explicit "source order" columns for D1 parity
    *                    mode; None ⇒ fast `dropDuplicates`.
    */
  def transform(df: DataFrame, t: Template,
      dedupeOrder: Option[Seq[Column]] = None): (DataFrame, TransformMetrics) = {
    // R1 unpivot: id vars = mapped canonical names present in the frame.
    val idVars = t.columnMappings.values.toList.distinct.filter(df.columns.contains)
    val doUnpivot = t.unpivot && idVars.nonEmpty
    val valueCols = df.columns.filterNot(idVars.contains)

    // R1 → P3 → F3, the stages before F4.
    def front(in: DataFrame): DataFrame = {
      var out =
        if (doUnpivot)
          in.unpivot(
            idVars.map(c => col(quoted(c))).toArray,
            valueCols.map(c => col(quoted(c))).toArray,
            t.varName, t.valueName)
        else in

      // P3 provider_id literal.
      out = out.withColumn("provider_id",
        t.providerName.orElse(t.sourceFile) match {
          case Some(v) => lit(v)
          case None => lit(null).cast(StringType)
        })

      // F3 drop all-null rows.
      if (t.dropEmptyRows) dropEmptyRows(out) else out
    }

    // F4 surviving columns depend on data: one aggregate job, run here on
    // the unobserved frame and shared by every build below.
    val kept = t.dropNullColumnsThreshold.map(th => nullColumnsKept(front(df), th))

    def build(): (DataFrame, Observed) = {
      val id = observedSeq.incrementAndGet()
      def observation(what: String) = Observation(s"transform_${what}_$id")
      val input = observation("input")
      val parse = observation("parse")
      val output = observation("output")
      var out = front(df.observe(input, rows))

      kept.foreach(k => out = out.select(k.map(c => col(quoted(c))).toIndexedSeq: _*))

      // C5 / C6 string cleaning.
      if (t.trimStrings) out = trimStrings(out)
      if (t.stripThousands) out = stripThousands(out)

      // C1 + F6: report_date coercion with parse-failure marker, then drop.
      val hasDate = out.columns.contains("report_date")
      if (hasDate) {
        val dt = out.schema("report_date").dataType
        out = out
          .withColumn("__date_fail",
            col("report_date").isNotNull && coerceDate(col("report_date"), dt).isNull)
          .withColumn("report_date", coerceDate(col("report_date"), dt))
      } else out = out.withColumn("__date_fail", lit(false))

      // C3: sales_amount coercion with failure marker; nulls → 0.0.
      if (out.columns.contains("sales_amount")) {
        val parsed = coerceFloat(col("sales_amount"), out.schema("sales_amount").dataType)
        out = out
          .withColumn("__num_fail", col("sales_amount").isNotNull && parsed.isNull)
          .withColumn("sales_amount", coalesce(parsed, lit(0.0)))
      } else out = out.withColumn("__num_fail", lit(false))

      out = out.observe(parse,
        coalesce(sum(col("__date_fail").cast("long")), lit(0L)).as("date_fail"),
        coalesce(sum(col("__num_fail").cast("long")), lit(0L)).as("num_fail"))
      out = out.drop("__date_fail", "__num_fail")
      if (hasDate) out = out.filter(col("report_date").isNotNull)

      // A1 combine_on group-sum.
      if (t.combineOn.nonEmpty) {
        val extra = (if (doUnpivot) List(t.varName) else Nil) ++ List("provider_id")
        out = combineOn(out, t.combineOn, extra)
      }

      // D1 keyed dedupe.
      val dedupeKeys = t.dedupeOn.filter(out.columns.contains)
      val preDedupe = if (dedupeKeys.isEmpty) None else Some(observation("pre_dedupe"))
      preDedupe.foreach(pre => out = dedupe(out.observe(pre, rows), dedupeKeys, dedupeOrder))
      (out.observe(output, rows), Observed(input, parse, preDedupe, output))
    }

    val (out, own) = build()
    (out, new TransformMetrics(
      inputCols = df.columns.length,
      unpivotApplied = doUnpivot,
      nValueCols = valueCols.length,
      unpivotAfterCols = idVars.length + 2,
      own = own,
      rebuild = () => build()))
  }

  private def quoted(name: String): String = s"`${name.replace("`", "``")}`"
}
