package graft.sources

import com.univocity.parsers.csv.CsvParser
import graft.model.Template
import graft.operators.{Combiner, TransformEngine}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Template-driven source scans (SURVEY §2.1).
  *
  * - S1 Excel scan: driver-side via XlsxMini (spreadsheets are small by
  *   construction; bulk data takes the CSV/parquet paths), honoring
  *   `header_row`/`skiprows`/`usecols`, S3 merged-header normalization,
  *   all-null row/col drops, P1 projection, and multi-sheet concat with
  *   `source_sheet` lineage (reference: src/templates.py:515-588).
  * - S2 CSV scan: DISTRIBUTED, with the header read on the driver from the
  *   file's first records, so the scan needs no inference job. When
  *   `header_row`/`skiprows` are trivial the scan drops the header line
  *   itself (the 100 TB fast path — filters/pruning push down); otherwise a
  *   row-id filter over the first split replays pandas' skiprows-then-header
  *   semantics (reference: src/templates.py:521-529).
  * - S5 cached preview / S9 upload bytes are thin wrappers.
  */
object TemplateReader {

  /** Entry point mirroring `read_excel_with_template`: dispatch on suffix /
    * `source_type`, with the reference's mislabeled-xlsx→CSV fallback
    * (reference: src/services/io.py:65-118). */
  def read(spark: SparkSession, path: Path, t: Template): DataFrame = {
    val isCsv = path.getFileName.toString.toLowerCase.endsWith(".csv") ||
      t.sourceType == "csv"
    if (isCsv) readCsv(spark, path, t)
    else
      try readExcel(spark, path, t)
      catch {
        case _: java.util.zip.ZipException =>
          readCsv(spark, path, t) // mislabeled CSV with an .xlsx suffix
      }
  }

  def read(spark: SparkSession, path: String, t: Template): DataFrame =
    read(spark, Paths.get(path), t)

  /** S5 cached preview read: limit-n scan (Catalyst pushes LocalLimit into
    * the scan; Spark's plan cache replaces the reference's lru_cache). */
  def preview(spark: SparkSession, path: Path, t: Template, nRows: Int): DataFrame =
    read(spark, path, t).limit(nRows)

  /** S9 upload scan: parse uploaded bytes by writing to a scratch file
    * (reference: src/core/streamlit_io.py:11-47). */
  def readBytes(spark: SparkSession, bytes: Array[Byte], fileName: String,
      t: Template): DataFrame = {
    val dir = Files.createTempDirectory("graft_upload")
    val f = dir.resolve(fileName)
    Files.write(f, bytes)
    read(spark, f, t)
  }

  // ---------------------------------------------------------------- excel

  /** S1: read sheet(s) per template; driver-side grid → typed DataFrame. */
  def readExcel(spark: SparkSession, path: Path, t: Template): DataFrame = {
    val sheetList: Seq[Option[Either[Int, String]]] =
      if (t.combineSheets && t.sheets.nonEmpty) t.sheets.map(s => Some(Right(s)))
      else if (t.sheet.isDefined) Seq(Some(Right(t.sheet.get)))
      else Seq(Some(Left(0)))

    val frames = sheetList.flatMap { sel =>
      XlsxMini.readSheet(path, sel).map { sheet =>
        var df = sheetToFrame(spark, sheet, t)
        df = TransformEngine.filterAndRename(df, t)
        if (t.combineSheets)
          df = df.withColumn("source_sheet", lit(sheet.name))
        df
      }
    }
    if (frames.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), StructType(Nil))
    else Combiner.concat(frames)
  }

  /** One sheet grid → DataFrame with pandas read_excel semantics:
    * drop `skiprows` (0-indexed raw rows), take row `header_row` of the
    * remainder as header, S3-normalize it, usecols selection, then drop
    * all-null rows and columns. */
  private[sources] def sheetToFrame(spark: SparkSession, sheet: XlsxMini.Sheet,
      t: Template): DataFrame = {
    val (normHeaders, _) = HeaderNormalizer.normalize(sheet, t.headerRow, t.skiprows)
    val kept = sheet.grid.zipWithIndex.filterNot { case (_, i) => t.skiprows.contains(i) }
      .map(_._1)
    if (kept.length <= t.headerRow)
      return spark.createDataFrame(new java.util.ArrayList[Row](), StructType(Nil))

    val headerCells = kept(t.headerRow)
    var data = kept.drop(t.headerRow + 1)
    val width = (headerCells.length +: data.map(_.length)).max
    def pad(row: Vector[Any]) = row.padTo(width, null)

    var names = pad(headerCells).zipWithIndex.map {
      case (null, i) => s"Unnamed: $i"
      case (v, _) => cellToHeaderName(v)
    }
    // S3: normalized headers replace names wholesale (pad/truncate to width)
    if (normHeaders.nonEmpty)
      names = normHeaders.toVector.padTo(width, "").zipWithIndex.map {
        case ("", i) => names(i)
        case (h, _) => h
      }
    data = data.map(pad)

    // usecols: positional (HeaderCell.column) or by name
    val useIdx: Seq[Int] =
      if (t.headers.nonEmpty) t.headers.map(_.column).filter(_ < width)
      else if (t.columns.nonEmpty) names.zipWithIndex.collect {
        case (n, i) if t.columns.contains(n) => i
      }
      else names.indices
    names = useIdx.map(names).toVector
    data = data.map(row => useIdx.map(row).toVector)

    // dropna(how="all") on rows, then all-null columns
    data = data.filterNot(_.forall(_ == null))
    val keepCols = names.indices.filter(i => data.exists(_(i) != null))
    names = keepCols.map(names).toVector
    data = data.map(row => keepCols.map(row).toVector)

    // de-duplicate header names pandas-style (x, x.1, x.2)
    val seen = scala.collection.mutable.Map[String, Int]()
    names = names.map { n =>
      val k = seen.getOrElse(n, 0)
      seen(n) = k + 1
      if (k == 0) n else s"$n.$k"
    }

    // per-column type inference: all-Double → double, all-Boolean → boolean,
    // else string (pandas object)
    val fields = names.indices.map { i =>
      val vals = data.map(_(i)).filter(_ != null)
      val dt: DataType =
        if (vals.nonEmpty && vals.forall(_.isInstanceOf[Double])) DoubleType
        else if (vals.nonEmpty && vals.forall(_.isInstanceOf[Boolean])) BooleanType
        else if (vals.nonEmpty && vals.forall(_.isInstanceOf[java.sql.Timestamp]))
          TimestampType // date-styled Excel serials (pandas datetime64)
        else StringType
      StructField(names(i), dt, nullable = true)
    }
    val rows = data.map { row =>
      Row.fromSeq(names.indices.map { i =>
        (row(i), fields(i).dataType) match {
          case (null, _) => null
          case (v: Double, DoubleType) => v
          case (v: Boolean, BooleanType) => v
          case (v: java.sql.Timestamp, TimestampType) => v
          case (v: Double, StringType) if v == v.floor && math.abs(v) < 1e15 =>
            v.toLong.toString
          case (v, _) => v.toString
        }
      })
    }
    spark.createDataFrame(rows.asJava, StructType(fields))
  }

  private def cellToHeaderName(v: Any): String = v match {
    case d: Double if d == d.floor && math.abs(d) < 1e15 => d.toLong.toString
    case other => other.toString
  }

  // ------------------------------------------------------------------ csv

  /** S2: template CSV scan. The header is read on the driver, from the
    * file's first records, with the scan's own line reader and parser
    * settings; the scan then runs on an explicit all-string schema, so
    * reading launches no Spark job (no schema inference, no header collect).
    * Parsing stays distributed and the scan still prunes columns. */
  def readCsv(spark: SparkSession, path: Path, t: Template): DataFrame = {
    val opts = Map("sep" -> t.delimiter, "encoding" -> t.encoding, "nullValue" -> "")
    // header = true only lets makeSafeHeader name columns; the parser
    // settings do not depend on it
    val csv = new CSVOptions(opts + ("header" -> "true"), true,
      spark.sessionState.conf.sessionLocalTimeZone)
    def scan(header: Boolean, names: Seq[String]) = spark.read.options(opts)
      .option("header", header)
      .schema(StructType(names.map(StructField(_, StringType))))
      .csv(path.toString)
    val df =
      if (t.headerRow == 0 && t.skiprows.isEmpty) {
        // Fast path: the scan drops the header line itself; the names are
        // the ones Spark's own header inference gives.
        headRecords(spark, path, csv, 1).headOption match {
          case Some(header) => scan(header = true, CSVUtils.makeSafeHeader(header,
            spark.sessionState.conf.caseSensitiveAnalysis, csv).toSeq)
          case None => spark.emptyDataFrame
        }
      } else {
        // pandas: drop `skiprows` raw records first, then record `header_row`
        // of the remainder is the header (reference: src/templates.py:521-529).
        val headerRaw = Iterator.from(0).filterNot(t.skiprows.contains)
          .drop(t.headerRow).next()
        val drops = (0 to headerRaw).toSet ++ t.skiprows
        val records = headRecords(spark, path, csv, drops.max + 1)
        if (records.isEmpty) spark.emptyDataFrame
        else {
          // the scan is as wide as the first record, like an inferred one
          val width = records.head.length
          val positional = (0 until width).map(i => s"_c$i")
          val names = records.lift(headerRaw).fold(positional) { h =>
            h.toIndexedSeq.padTo(width, null).take(width).zipWithIndex.map {
              case (null | "", i) => s"Unnamed: $i"
              case (n, _) => n
            }
          }
          // Row ids below 2^33 exist only in the scan's first partition,
          // which starts with the split headRecords read; there a row id is
          // the raw record number, so the filter drops exactly `drops`.
          scan(header = false, positional)
            .filter(!monotonically_increasing_id().isin(drops.toSeq.map(_.toLong): _*))
            .toDF(names: _*)
        }
      }
    TransformEngine.filterAndRename(df, t)
  }

  /** The first `n` non-blank records of a CSV input, split into lines,
    * decoded and tokenized exactly as the CSV scan does it. They come from
    * the data file the scan's first partition starts with (the largest one
    * of a directory), and only from the bytes the scan's first split always
    * covers (the whole file when it is small or compressed); fails when
    * fewer than `n` records lie there and the input goes on past them. */
  private def headRecords(spark: SparkSession, path: Path, csv: CSVOptions,
      n: Int): Seq[Array[String]] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new HPath(path.toUri)
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    val files =
      if (!status.isDirectory) Array(status)
      else fs.listStatus(root).filter(f => f.isFile && !f.getPath.getName.matches("[_.].*"))
        .sortBy(f => (-f.getLen, f.getPath.toString))
    if (files.isEmpty) return Nil
    val file = files.head
    val sql = spark.sessionState.conf
    val covered =
      if (new CompressionCodecFactory(conf).getCodec(file.getPath) != null) file.getLen
      else math.min(file.getLen, math.min(sql.filesMaxPartitionBytes, sql.filesOpenCostInBytes))
    val lines = new HadoopFileLinesReader(
      PartitionedFile(InternalRow.empty, SparkPath.fromPath(file.getPath), 0, covered),
      csv.lineSeparatorInRead, conf)
    val parser = new CsvParser(csv.asParserSettings)
    val records =
      try CSVUtils.filterCommentAndEmpty(
          lines.map(l => new String(l.getBytes, 0, l.getLength, csv.charset)), csv)
        .take(n).map(parser.parseLine).toVector
      finally lines.close()
    if (records.length < n && (covered < file.getLen || files.length > 1))
      throw new UnsupportedOperationException(
        s"$path: header_row/skiprows reach past the first split of ${file.getPath}")
    records
  }
}
