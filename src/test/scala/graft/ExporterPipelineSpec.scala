package graft

import graft.model.Template
import graft.operators.{Contract, Exporter}
import graft.plans.Pipeline
import graft.sources.XlsxMini
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Exporter sinks (K1-K8), contract validation (V1), and pipeline control
  * flow (V3) — reference: src/exporter.py, src/pipeline.py:61-184,
  * tests/test_exporter.py:9-38. */
class ExporterPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmp = Files.createTempDirectory("expspec")

  test("exportDataset writes requested formats + manifest with metrics") {
    val dir = tmp
    val df = Seq((Some("a"), 1.0), (None, 2.0), (None, 2.0)).toDF("s", "v")
    val (manifest, metrics) = Exporter.exportDataset(df, dir, "ds",
      Seq("parquet", "jsonl", "csv"), runId = "r1", callerMeta = Map("src" -> "test"))
    assert(Files.exists(dir.resolve("ds.parquet")))
    assert(Files.exists(dir.resolve("ds.jsonl")))
    assert(Files.exists(dir.resolve("ds.csv")))
    assert(metrics("rows") == 3L)
    assert(metrics("columns") == 2)
    assert(metrics("duplicate_rows") == 1L)
    val text = Files.readString(manifest)
    assert(text.contains("\"run_id\": \"r1\"") && text.contains("\"null_pct\""))
    assert(text.contains("66.67")) // s is 2/3 null
  }

  test("xlsx export: meta sheet + frozen header pane + autofilter (presentation parity)") {
    val dir = tmp
    val df = Seq(("a", 1.0), ("b", 2.0)).toDF("s", "v")
    Exporter.exportDataset(df, dir, "ds", Seq("xlsx"), runId = "r9",
      callerMeta = Map("src" -> "test"))
    val p = dir.resolve("ds.xlsx")
    assert(XlsxMini.sheetNames(p) == Seq("data", "meta"))
    // meta sheet carries manifest key/value rows
    val meta = XlsxMini.readSheet(p, Some(Right("meta"))).get.grid
    assert(meta.head == Vector("key", "value"))
    val kv = meta.tail.map(r => r(0) -> r(1)).toMap
    assert(kv("run_id") == "r9" && kv("dataset") == "ds" && kv("src") == "test")
    assert(kv("rows") == "2")
    // raw sheet XML has the frozen pane and the autofilter over the range
    val zf = new java.util.zip.ZipFile(p.toFile)
    val xml = try new String(
      zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml")).readAllBytes,
      java.nio.charset.StandardCharsets.UTF_8) finally zf.close()
    assert(xml.contains("""<pane xSplit="1" ySplit="1" topLeftCell="B2""""))
    assert(xml.contains("""state="frozen""""))
    assert(xml.contains("""<autoFilter ref="A1:B3"/>"""))
  }

  test("xlsx export auto-sizes columns (cols element with customWidth)") {
    val dir = tmp
    val df = Seq(("a-rather-long-cell-value-here", 1.0), ("b", 2.0)).toDF("s", "v")
    Exporter.exportDataset(df, dir, "dw", Seq("xlsx"), runId = "r10")
    val zf = new java.util.zip.ZipFile(dir.resolve("dw.xlsx").toFile)
    val xml = try new String(
      zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml")).readAllBytes,
      java.nio.charset.StandardCharsets.UTF_8) finally zf.close()
    // width = longest cell (29 chars) + 2 padding; narrow col clamps to 6
    assert(xml.contains("""<col min="1" max="1" width="31.0" customWidth="1"/>"""))
    assert(xml.contains("""<col min="2" max="2" width="6.0" customWidth="1"/>"""))
    assert(xml.indexOf("<cols>") < xml.indexOf("<sheetData>")) // schema order
  }

  test("column number formats style numeric cells; values survive roundtrip") {
    val p = tmp.resolve("fmt.xlsx")
    val sheet = XlsxMini.Sheet("s",
      Vector(Vector[Any]("amount", "rate"), Vector[Any](1234.56, 0.25)),
      colFormats = Map(0 -> XlsxMini.NumberFormat, 1 -> XlsxMini.PercentFormat))
    XlsxMini.write(p, Seq(sheet))
    val zf = new java.util.zip.ZipFile(p.toFile)
    val (xml, styles) = try (
      new String(zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml"))
        .readAllBytes, java.nio.charset.StandardCharsets.UTF_8),
      new String(zf.getInputStream(zf.getEntry("xl/styles.xml"))
        .readAllBytes, java.nio.charset.StandardCharsets.UTF_8)) finally zf.close()
    assert(xml.contains("""<c r="A2" s="2"><v>1234.56</v></c>"""))
    assert(xml.contains("""<c r="B2" s="3"><v>0.25</v></c>"""))
    assert(styles.contains("""<xf numFmtId="4" applyNumberFormat="1"/>"""))
    assert(styles.contains("""<xf numFmtId="10" applyNumberFormat="1"/>"""))
    // non-date numFmts must NOT read back as serial dates
    val back = XlsxMini.readSheet(p, Some(Right("s"))).get.grid
    assert(back(1) == Vector(1234.56, 0.25))
  }

  test("workbook sheet names truncate to 31 chars") {
    val p = tmp.resolve("wb.xlsx")
    val longName = "x" * 40
    Exporter.writeWorkbook(p, Seq(longName -> Seq(1).toDF("a")))
    assert(XlsxMini.sheetNames(p) == Seq("x" * 31))
  }

  test("archive moves with timestamp suffix on collision (K8)") {
    val dir = tmp
    val arch = dir.resolve("archive")
    val f1 = dir.resolve("in.csv"); Files.writeString(f1, "a")
    val moved1 = Exporter.archive(f1, arch, () => "111")
    assert(moved1.getFileName.toString == "in.csv" && !Files.exists(f1))
    val f2 = dir.resolve("in.csv"); Files.writeString(f2, "b")
    val moved2 = Exporter.archive(f2, arch, () => "222")
    assert(moved2.getFileName.toString == "in_222.csv")
  }

  test("quarantine copies the file and writes the error log (K8)") {
    val dir = tmp
    val q = dir.resolve("quarantine")
    val f = dir.resolve("bad.csv"); Files.writeString(f, "x")
    Exporter.quarantine(f, "boom", q)
    assert(Files.exists(q.resolve("bad.csv")))
    assert(Files.readString(q.resolve("bad.csv.error.txt")) == "boom")
    assert(Files.exists(f)) // copy, not move
  }

  test("contract level off passes anything through") {
    val df = Seq(("x", "y")).toDF("a", "b")
    val r = Contract.validate(df, Template(requiredFields = List("zz")), "off")
    assert(r.isValid)
  }

  test("contract level coerce casts canonical columns, allows extras") {
    val df = Seq(("p1", "2021-01-02", "3.5", "extra"))
      .toDF("provider_id", "report_date", "sales_amount", "other")
    val r = Contract.validate(df, Template(), "coerce")
    assert(r.isValid)
    assert(r.data.schema("report_date").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(r.data.schema("sales_amount").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(r.data.columns.contains("other"))
  }

  test("contract level contract fails on missing required + bad types") {
    val df = Seq(("a", "notnum")).toDF("article_sku", "qty")
    val r1 = Contract.validate(df, Template(requiredFields = List("report_date")), "contract")
    assert(!r1.isValid && r1.errors == Seq("report_date" -> "missing required column"))
    val r2 = Contract.validate(df,
      Template(fieldTypes = Map("qty" -> "int")), "contract")
    assert(!r2.isValid && r2.errors.head._1 == "qty")
  }

  test("runPipeline: success path writes output + report and archives (V3)") {
    val dir = tmp
    val src = dir.resolve("in.csv")
    Files.writeString(src,
      "article_sku,report_date,sales_amount\ns1,2021-01-02,10.5\ns2,2021-01-03,2\n")
    val out = dir.resolve("out.parquet")
    val r = Pipeline.runPipeline(spark, src, Template(sourceType = "csv",
      providerName = Some("acme")), out,
      dir.resolve("archive"), dir.resolve("quarantine"))
    assert(r.success, r.message)
    assert(Files.exists(out))
    assert(Files.exists(dir.resolve("out.parquet.validation.txt")))
    assert(Files.exists(dir.resolve("archive").resolve("in.csv")))
    assert(!Files.exists(src))
    val back = spark.read.parquet(out.toString)
    assert(back.count() == 2)
    assert(back.columns.contains("provider_id"))
  }

  test("runPipeline: validation failure quarantines the source (V3)") {
    val dir = tmp
    val src = dir.resolve("in.csv")
    Files.writeString(src, "a,b\n1,2\n")
    val r = Pipeline.runPipeline(spark, src,
      Template(sourceType = "csv", requiredFields = List("article_sku")),
      dir.resolve("out.parquet"), dir.resolve("archive"), dir.resolve("quarantine"),
      validationLevel = "contract")
    assert(!r.success)
    assert(Files.exists(dir.resolve("quarantine").resolve("in.csv")))
    assert(Files.exists(src)) // quarantine copies; source stays for inspection
  }

  test("runPipeline: quarantine threshold rejects files with >10% parse failures") {
    val dir = tmp
    val csv = "article_sku,report_date,sales_amount\n" +
      "s1,NOT_A_DATE,10.5\ns2,ALSO_BAD,2\ns3,2021-01-03,4\n"
    val src = dir.resolve("in.csv")
    Files.writeString(src, csv)
    val r = Pipeline.runPipeline(spark, src, Template(sourceType = "csv",
      providerName = Some("acme")), dir.resolve("out.parquet"),
      dir.resolve("archive"), dir.resolve("quarantine"))
    assert(!r.success)
    assert(r.message.contains("Quarantine threshold"), r.message)
    assert(Files.exists(dir.resolve("quarantine").resolve("in.csv")))
    // threshold disabled → same file processes (bad rows coerce/drop per C1/F6)
    val src2 = dir.resolve("in2.csv")
    Files.writeString(src2, csv)
    val r2 = Pipeline.runPipeline(spark, src2, Template(sourceType = "csv",
      providerName = Some("acme")), dir.resolve("out2.parquet"),
      dir.resolve("archive"), dir.resolve("quarantine"),
      quarantineThreshold = 1.0)
    assert(r2.success, r2.message)
  }

  test("runPipeline: drift gate failure quarantines (fail_on_missing)") {
    val dir = tmp
    val src = dir.resolve("in.csv")
    Files.writeString(src, "a,b\n1,2\n")
    val r = Pipeline.runPipeline(spark, src,
      Template(sourceType = "csv", columns = List("a", "b", "c")),
      dir.resolve("out.parquet"), dir.resolve("archive"), dir.resolve("quarantine"),
      failOnMissing = true)
    assert(!r.success)
    assert(Files.exists(dir.resolve("quarantine").resolve("in.csv")))
  }

  private val acme = Template(sourceType = "csv", providerName = Some("acme"))
  private val goodCsv =
    "article_sku,report_date,sales_amount\ns1,2021-01-02,10.5\ns2,2021-01-03,2\n"
  private val badCsv =
    "article_sku,report_date,sales_amount\ns1,NOT_A_DATE,10.5\ns2,ALSO_BAD,2\ns3,2021-01-03,4\n"
  private def staging(dir: java.nio.file.Path) = {
    val names = Files.list(dir)
    try names.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("_staging")).toList
    finally names.close()
  }

  test("runPipeline: a quarantined run leaves no staging and an existing output untouched") {
    val dir = tmp
    val out = dir.resolve("out.parquet")
    Seq(("old", 1.0)).toDF("article_sku", "sales_amount").write.parquet(out.toString)
    val src = dir.resolve("in.csv")
    Files.writeString(src, badCsv)
    val r = Pipeline.runPipeline(spark, src, acme, out,
      dir.resolve("archive"), dir.resolve("quarantine"))
    assert(!r.success && r.message.contains("Quarantine threshold"), r.message)
    assert(r.rowCount == 1L)
    assert(staging(dir).isEmpty)
    assert(spark.read.parquet(out.toString).as[(String, Double)].collect().toSeq ==
      Seq(("old", 1.0)))
    assert(!Files.exists(dir.resolve("out.parquet.validation.txt")))
  }

  test("runPipeline: a success replaces an existing output and reports rows_out") {
    val dir = tmp
    val out = dir.resolve("out.parquet")
    Seq(("old", 1.0)).toDF("article_sku", "sales_amount").write.parquet(out.toString)
    val src = dir.resolve("in.csv")
    Files.writeString(src, goodCsv)
    val r = Pipeline.runPipeline(spark, src, acme, out,
      dir.resolve("archive"), dir.resolve("quarantine"))
    assert(r.success, r.message)
    assert(r.rowCount == 2L && r.outputPath.contains(out.toString))
    assert(staging(dir).isEmpty)
    assert(spark.read.parquet(out.toString).select("article_sku").as[String]
      .collect().sorted.toSeq == Seq("s1", "s2"))
    val report = Files.readString(dir.resolve("out.parquet.validation.txt"))
    assert(report.linesIterator.toSeq == Seq(
      "date_parse_failures: 0", "dedupe_dropped: 0", "extra_vs_template: ",
      "missing_vs_template: ", "numeric_parse_failures: 0", "rows_out: 2",
      "unpivot_after: (2,3)", "unpivot_before: (2,3)"))
  }

  test("runPipeline: an exception during the write cleans up the staged output") {
    val dir = tmp
    val src = dir.resolve("in.csv")
    Files.writeString(src, goodCsv)
    // no lzo codec ships with Spark: every write task fails after the job
    // has created the staged directory
    val key = "spark.sql.parquet.compression.codec"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "lzo")
    val r = try Pipeline.runPipeline(spark, src, acme, dir.resolve("out.parquet"),
        dir.resolve("archive"), dir.resolve("quarantine"))
      finally spark.conf.set(key, prev)
    assert(!r.success)
    assert(staging(dir).isEmpty)
    assert(!Files.exists(dir.resolve("out.parquet")))
    assert(Files.exists(dir.resolve("quarantine").resolve("in.csv")))
    assert(r.metrics("unpivot_before") == ((2L, 3)))
  }

  test("runPipeline: an .xlsx output keeps its suffix through staging") {
    val dir = tmp
    val src = dir.resolve("in.csv")
    Files.writeString(src, goodCsv)
    val out = dir.resolve("out.xlsx")
    val r = Pipeline.runPipeline(spark, src, acme, out,
      dir.resolve("archive"), dir.resolve("quarantine"))
    assert(r.success, r.message)
    assert(r.rowCount == 2L && r.outputPath.contains(out.toString))
    assert(staging(dir).isEmpty && !Files.exists(dir.resolve("out.xlsx.xlsx")))
    assert(XlsxMini.readSheet(out, Some(Right("data"))).get.grid.length == 3)
    assert(Files.readString(dir.resolve("out.xlsx.validation.txt"))
      .contains("date_parse_failures: 0"))
  }

  test("runPipeline: a contract-level validation failure still reports its metrics") {
    val dir = tmp
    val src = dir.resolve("in.csv")
    Files.writeString(src, badCsv)
    val r = Pipeline.runPipeline(spark, src,
      Template(sourceType = "csv", requiredFields = List("customer_id")),
      dir.resolve("out.parquet"), dir.resolve("archive"), dir.resolve("quarantine"),
      validationLevel = "contract")
    assert(!r.success && r.message == "Validation failed.")
    assert(r.metrics("validation_errors") == Seq("customer_id" -> "missing required column"))
    assert(r.metrics("unpivot_before") == ((3L, 3)))
    assert(r.metrics("date_parse_failures") == 2L)
    assert(staging(dir).isEmpty && !Files.exists(dir.resolve("out.parquet")))
  }
}
