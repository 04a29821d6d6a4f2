package graft.operators

import graft.io.LocalWrites
import graft.sources.XlsxMini
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}
import scala.jdk.CollectionConverters._

/** Sinks K1-K8 (reference: src/exporter.py, src/cli.py:44-51,141-153,
  * src/pipeline.py:61-117).
  *
  * Bulk formats (parquet/csv/jsonl) go through `df.write` — distributed,
  * partitioned, the 100 TB path. XLSX and the manifest are driver-side by
  * design: they are summary/report artifacts (the reference's own usage), fed
  * by `toLocalIterator` with a hard row cap so a misrouted big frame can't
  * OOM the driver.
  */
object Exporter {

  val XlsxRowCap = 1048575 // sheet format limit (1 header row reserved)

  /** K1 xlsx writer: suffix forced to `.xlsx` (reference: src/cli.py:44-51).
    * Matches the reference's presentation (src/exporter.py:44-57): header
    * row + first column frozen at B2, autofilter over the data range, and —
    * when `meta` is non-empty — a key/value `meta` sheet alongside. */
  def writeXlsx(df: DataFrame, path: Path, sheetName: String = "data",
      rowCap: Int = XlsxRowCap, meta: Seq[(String, String)] = Nil): Path = {
    val out =
      if (path.getFileName.toString.toLowerCase.endsWith(".xlsx")) path
      else path.resolveSibling(path.getFileName.toString + ".xlsx")
    val metaSheets =
      if (meta.isEmpty) Nil
      else Seq(XlsxMini.Sheet("meta",
        Vector[Any]("key", "value") +:
          meta.toVector.map { case (k, v) => Vector[Any](k, v) }))
    XlsxMini.write(out, frameToSheet(df, sheetName, rowCap) +: metaSheets)
    out
  }

  /** K5 multi-sheet summary workbook; sheet names truncated to 31 chars
    * (reference: src/cli.py:229-235; src/exporter.py:36-58). */
  def writeWorkbook(path: Path, sheets: Seq[(String, DataFrame)],
      rowCap: Int = XlsxRowCap): Path = {
    val out =
      if (path.getFileName.toString.toLowerCase.endsWith(".xlsx")) path
      else path.resolveSibling(path.getFileName.toString + ".xlsx")
    XlsxMini.write(out, sheets.map { case (name, df) =>
      frameToSheet(df, name.take(31), rowCap)
    })
    out
  }

  private def frameToSheet(df: DataFrame, name: String, rowCap: Int): XlsxMini.Sheet = {
    val header = df.columns.toVector.map(identity[Any])
    val it = df.toLocalIterator().asScala.take(rowCap)
    val rows = it.map(r => Vector.tabulate(r.length) { i =>
      r.get(i) match {
        case null => null
        case b: Boolean => b
        case n: Byte => n.toDouble
        case n: Short => n.toDouble
        case n: Int => n.toDouble
        case n: Long => n.toDouble
        case n: Float => n.toDouble
        case n: Double => n
        case n: java.math.BigDecimal => n.doubleValue()
        case other => other.toString
      }
    }).toVector
    val filter = // header row through last data row (reference: exporter.py:51-56)
      if (rows.nonEmpty && header.nonEmpty)
        Some(s"A1:${XlsxMini.colLetter(header.length - 1)}${rows.length + 1}")
      else None
    val grid = header +: rows
    XlsxMini.Sheet(name, grid, freezeAt = Some("B2"),
      autoFilterRef = filter, colWidths = XlsxMini.autoWidths(grid))
  }

  /** K2/K3/K4 bulk writers (reference: src/cli.py:46-48; src/exporter.py:61-66,106-109). */
  def writeParquet(df: DataFrame, path: Path): Unit =
    LocalWrites.write(df).mode("overwrite").parquet(path.toString)

  def writeJsonl(df: DataFrame, path: Path): Unit =
    LocalWrites.write(df).mode("overwrite").json(path.toString)

  def writeCsv(df: DataFrame, path: Path): Unit =
    LocalWrites.write(df).mode("overwrite").option("header", "true").csv(path.toString)

  /** ORC writer — same contract as [[writeParquet]]; ORC ships in Spark's
    * own jars, so the columnar sink matrix covers both lakehouse formats. */
  def writeOrc(df: DataFrame, path: Path): Unit =
    LocalWrites.write(df).mode("overwrite").orc(path.toString)

  /** K6 export manifest with quality metrics, all from ONE Profiler agg
    * (reference: src/exporter.py:69-118, metrics :14-33). Returns the
    * manifest path; metrics also returned for the K7 report. */
  def exportDataset(df: DataFrame, outDir: Path, name: String,
      formats: Seq[String], runId: String,
      callerMeta: Map[String, String] = Map.empty,
      now: () => ZonedDateTime = () => ZonedDateTime.now(ZoneOffset.UTC)):
      (Path, Map[String, Any]) = {
    Files.createDirectories(outDir)
    val prof = Profiler.profile(df).head()
    val cols = df.columns
    val nullPct = cols.map(c => c -> prof.getAs[Double](s"null_pct_$c")).toMap
    val metrics: Map[String, Any] = Map(
      "rows" -> prof.getAs[Long]("n_rows"),
      "columns" -> cols.length,
      "dtypes" -> df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap,
      "null_pct" -> nullPct,
      "duplicate_rows" -> prof.getAs[Long]("dup_rows"),
    )
    // xlsx gets the manifest as a key/value meta sheet (reference:
    // src/exporter.py:102 passes the manifest into _write_excel)
    val metaRows: Seq[(String, String)] =
      Seq("run_id" -> runId, "dataset" -> name,
        "created_utc" -> now().format(DateTimeFormatter.ISO_OFFSET_DATE_TIME),
        "formats" -> formats.mkString(","),
        "rows" -> metrics("rows").toString,
        "columns" -> metrics("columns").toString,
        "duplicate_rows" -> metrics("duplicate_rows").toString) ++
        callerMeta.toSeq.sortBy(_._1)
    formats.foreach {
      case "parquet" => writeParquet(df, outDir.resolve(s"$name.parquet"))
      case "jsonl" | "json" => writeJsonl(df, outDir.resolve(s"$name.jsonl"))
      case "csv" => writeCsv(df, outDir.resolve(s"$name.csv"))
      case "xlsx" => writeXlsx(df, outDir.resolve(s"$name.xlsx"), meta = metaRows)
      case other => throw new IllegalArgumentException(s"unknown format: $other")
    }
    val manifest: Map[String, Any] = Map(
      "run_id" -> runId,
      "created_utc" -> now().format(DateTimeFormatter.ISO_OFFSET_DATE_TIME),
      "dataset" -> name,
      "formats" -> formats,
      "caller" -> callerMeta,
      "metrics" -> metrics,
    )
    val p = outDir.resolve(s"$name.manifest.json")
    Files.writeString(p, renderJson(manifest))
    (p, metrics)
  }

  /** K7 validation-report sidecar: plain-text before/after metrics
    * (reference: src/pipeline.py:87-117). */
  def writeValidationReport(path: Path, lines: Map[String, Any]): Path = {
    val text = lines.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k: $v" }.mkString("", "\n", "\n")
    Files.writeString(path, text)
    path
  }

  /** K8 archive on success: move the source into `archive/`, suffixing a
    * timestamp on name collision (reference: src/cli.py:141-153). */
  def archive(src: Path, archiveDir: Path,
      now: () => String = () => System.currentTimeMillis().toString): Path = {
    Files.createDirectories(archiveDir)
    val base = archiveDir.resolve(src.getFileName)
    val target =
      if (!Files.exists(base)) base
      else {
        val n = src.getFileName.toString
        val (stem, ext) = n.lastIndexOf('.') match {
          case -1 => (n, "")
          case i => (n.substring(0, i), n.substring(i))
        }
        archiveDir.resolve(s"${stem}_${now()}$ext")
      }
    Files.move(src, target, StandardCopyOption.REPLACE_EXISTING)
    target
  }

  /** K8 quarantine on failure: copy the file + error log
    * (reference: src/pipeline.py:61-84). */
  def quarantine(src: Path, error: String, quarantineDir: Path): Path = {
    Files.createDirectories(quarantineDir)
    val target = quarantineDir.resolve(src.getFileName)
    Files.copy(src, target, StandardCopyOption.REPLACE_EXISTING)
    Files.writeString(quarantineDir.resolve(src.getFileName.toString + ".error.txt"),
      error)
    target
  }

  // minimal stable-order JSON renderer (no extra deps beyond the JDK)
  private def renderJson(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1)
        .map { case (k, x) => s"${quote(k)}: ${renderJson(x)}" }
        .mkString("{", ", ", "}")
    case s: Seq[_] => s.map(renderJson).mkString("[", ", ", "]")
    case arr: Array[_] => renderJson(arr.toSeq)
    case (a, b) => renderJson(Map(a.toString -> b))
    case s: String => quote(s)
    case b: Boolean => b.toString
    case n: Double => if (n == n.floor && math.abs(n) < 1e15) n.toLong.toString else n.toString
    case n => n.toString
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
