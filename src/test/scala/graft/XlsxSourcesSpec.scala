package graft

import graft.model.{HeaderCell, Template}
import graft.sources.{HeaderNormalizer, TemplateReader, XlsxMini}
import graft.sources.XlsxMini.Sheet
import java.nio.file.Files

/** XLSX codec + template scan semantics, incl. the reference's golden-header
  * corpus regenerated with our own writer (reference: samples/generate_samples.py,
  * samples/expected.json, tests/test_samples_headers.py). */
class XlsxSourcesSpec extends SparkSpec {

  private def tmp = Files.createTempDirectory("xlsxspec")

  private def grid(rows: Seq[Any]*): Vector[Vector[Any]] =
    rows.map(_.toVector).toVector

  test("write/read round-trip preserves values, types, sheets, merges") {
    val p = tmp.resolve("rt.xlsx")
    val s1 = Sheet("One", grid(
      Seq("name", "qty", "ok"),
      Seq("alpha", 3.5, true),
      Seq("beta", 2.0, false)))
    val s2 = Sheet("Two", grid(Seq("x"), Seq(1.0)), merged = Seq((0, 0, 0, 0)))
    XlsxMini.write(p, Seq(s1, s2))

    assert(XlsxMini.sheetNames(p) == Seq("One", "Two"))
    val back = XlsxMini.read(p)
    assert(back.map(_.name) == Seq("One", "Two"))
    assert(back.head.grid(1) == Vector("alpha", 3.5, true))
    assert(back.head.grid(2) == Vector("beta", 2.0, false))
    assert(back(1).merged == Seq((0, 0, 0, 0)))
  }

  test("read refuses a workbook over the driver-side size bound") {
    val p = tmp.resolve("big.xlsx")
    XlsxMini.write(p, Seq(Sheet("S", grid(Seq("a"), Seq(1.0)))))
    val e = intercept[IllegalArgumentException](XlsxMini.read(p, maxBytes = 16))
    assert(e.getMessage.contains("driver-side"), e.getMessage)
    // the default bound admits template-scale files
    assert(XlsxMini.read(p).nonEmpty)
  }

  test("date-styled serial cells round-trip as timestamps (Excel dates)") {
    val ts1 = java.sql.Timestamp.valueOf("2021-03-15 10:30:00")
    val ts2 = java.sql.Timestamp.valueOf("1999-12-31 23:59:59")
    val p = tmp.resolve("dates.xlsx")
    XlsxMini.write(p, Seq(Sheet("D", grid(
      Seq("when", "qty"),
      Seq(ts1, 3.0),
      Seq(ts2, 4.0)))))
    val back = XlsxMini.read(p).head
    assert(back.grid(1)(0) == ts1, s"got ${back.grid(1)(0)}")
    assert(back.grid(2)(0) == ts2)
    assert(back.grid(1)(1) == 3.0) // plain numerics untouched

    // and through the template scan: the column types as timestamp
    val df = TemplateReader.read(spark, p, Template())
    assert(df.schema("when").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val got = df.orderBy("qty").collect().map(_.getAs[java.sql.Timestamp]("when"))
    assert(got.toSeq == Seq(ts1, ts2))
  }

  test("multi-run inline rich text concatenates runs (Excel-authored cells)") {
    // hand-build a workbook whose inline string has THREE <t> runs — the
    // shape Excel emits for rich-formatted cells; all runs must survive
    val p = tmp.resolve("runs.xlsx")
    XlsxMini.write(p, Seq(Sheet("S", grid(Seq("placeholder")))))
    // rewrite sheet1 with a multi-run <is> payload
    val zf = new java.util.zip.ZipFile(p.toFile)
    val entries = new java.util.zip.ZipFile(p.toFile)
    val parts = scala.collection.mutable.LinkedHashMap[String, Array[Byte]]()
    val en = entries.entries()
    while (en.hasMoreElements) {
      val e = en.nextElement()
      parts(e.getName) = entries.getInputStream(e).readAllBytes()
    }
    entries.close(); zf.close()
    parts("xl/worksheets/sheet1.xml") =
      ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
       """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
       """<row r="1"><c r="A1" t="inlineStr"><is>""" +
       """<r><t>Hello </t></r><r><t>rich </t></r><r><t>world</t></r>""" +
       """</is></c></row></sheetData></worksheet>""").getBytes("UTF-8")
    val zos = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(p))
    parts.foreach { case (name, bytes) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(bytes); zos.closeEntry()
    }
    zos.close()
    val back = XlsxMini.read(p)
    assert(back.head.grid(0)(0) == "Hello rich world")
  }

  test("sheetNames returns empty on a non-xlsx file (graceful failure)") {
    val p = tmp.resolve("bogus.xlsx")
    Files.writeString(p, "not a zip")
    assert(XlsxMini.sheetNames(p) == Nil)
  }

  // --- golden-header corpus (samples/expected.json) ---

  test("offset_header: banner rows before header; guess + read") {
    val p = tmp.resolve("offset_header.xlsx")
    XlsxMini.write(p, Seq(Sheet("Departments", grid(
      Seq("Company Report", null, null, null),
      Seq("Generated 2024", null, null, null),
      Seq(null, null, null, null),
      Seq("department", "owner", "active", "budget"),
      Seq("sales", "ann", true, 1000.0),
      Seq("ops", "bo", false, 2000.0)))))
    val sheet = XlsxMini.readSheet(p, None).get
    assert(HeaderNormalizer.guessHeaderRow(sheet.grid) == 3)
    val df = TemplateReader.readExcel(spark, p, Template(headerRow = 3))
    assert(df.columns.toSeq == Seq("department", "owner", "active", "budget"))
    assert(df.count() == 2)
  }

  test("merged_header: merged A1:C1 banner expands over the month row") {
    val p = tmp.resolve("merged_header.xlsx")
    XlsxMini.write(p, Seq(Sheet("Sales", grid(
      Seq("2020", null, null),
      Seq("Jan", "Feb", "Mar"),
      Seq(10.0, 20.0, 30.0)),
      merged = Seq((0, 0, 0, 2)))))
    val sheet = XlsxMini.readSheet(p, None).get
    // header row 1 (months): expected headers ⊇ {Jan, Feb, Mar}
    val (headers, mergedDetected) = HeaderNormalizer.normalize(sheet, 1, Nil)
    assert(!mergedDetected) // merge intersects row 0, not the header row
    assert(headers == List("Jan", "Feb", "Mar"))
    // header row 0: merged banner propagates its anchor value across columns
    val (h0, det0) = HeaderNormalizer.normalize(sheet, 0, Nil)
    assert(det0)
    assert(h0 == List("2020", "2020", "2020"))
  }

  test("merged region with empty anchor yields merged_<COL><ROW> placeholders") {
    val s = Sheet("S", grid(
      Seq(null, null, "x"),
      Seq(1.0, 2.0, 3.0)),
      merged = Seq((0, 0, 0, 1)))
    val (h, det) = HeaderNormalizer.normalize(s, 0, Nil)
    assert(det)
    assert(h == List("merged_A1_A", "merged_A1_B", "x"))
  }

  test("split_year_month: numeric year headers stringify like pandas") {
    val p = tmp.resolve("split_year_month.xlsx")
    XlsxMini.write(p, Seq(Sheet("Split", grid(
      Seq("SKU", 2020.0, 2021.0),
      Seq("a1", 5.0, 6.0),
      Seq("a2", 7.0, 8.0)))))
    val df = TemplateReader.readExcel(spark, p, Template())
    assert(df.columns.toSeq == Seq("SKU", "2020", "2021"))
  }

  test("multi-sheet combine adds source_sheet lineage and unions by name") {
    val p = tmp.resolve("multi_sheet.xlsx")
    XlsxMini.write(p, Seq(
      Sheet("Orders", grid(
        Seq("order_id", "region"), Seq(1.0, "north"), Seq(2.0, "south"))),
      Sheet("Adjustments", grid(
        Seq("order_id", "amount"), Seq(1.0, 5.5)))))
    val t = Template(sheets = List("Orders", "Adjustments"), combineSheets = true)
    val df = TemplateReader.readExcel(spark, p, t)
    assert(df.columns.toSet == Set("order_id", "region", "amount", "source_sheet"))
    assert(df.count() == 3)
    assert(df.filter(df("source_sheet") === "Adjustments").count() == 1)
  }

  test("skiprows shift the header and drop raw rows (pandas semantics)") {
    val p = tmp.resolve("skiprows.xlsx")
    XlsxMini.write(p, Seq(Sheet("S", grid(
      Seq("junk1", null),
      Seq("a", "b"),
      Seq("junk2", "junk2"),
      Seq(1.0, 2.0)))))
    // skiprows=[0,2]: header is then row 0 of the remainder = ("a","b")
    val df = TemplateReader.readExcel(spark, p, Template(skiprows = List(0, 2)))
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.count() == 1)
    assert(HeaderNormalizer.effectiveHeaderRow(0, Seq(0, 2)) == 1)
  }

  test("positional HeaderCell usecols select by column index with aliases") {
    val p = tmp.resolve("usecols.xlsx")
    XlsxMini.write(p, Seq(Sheet("S", grid(
      Seq("c0", "c1", "c2"),
      Seq("x", 1.0, "keep"),
      Seq("y", 2.0, "keep2")))))
    val t = Template(headers = List(
      HeaderCell("c0", 0, 0, alias = Some("name")),
      HeaderCell("c2", 2, 0)))
    val df = TemplateReader.readExcel(spark, p, t)
    assert(df.columns.toSeq == Seq("name", "c2"))
    assert(df.count() == 2)
  }

  test("all-null rows and columns drop at read (reference dropna)") {
    val p = tmp.resolve("nulls.xlsx")
    XlsxMini.write(p, Seq(Sheet("S", grid(
      Seq("a", "b", "empty"),
      Seq(1.0, "x", null),
      Seq(null, null, null),
      Seq(2.0, "y", null)))))
    val df = TemplateReader.readExcel(spark, p, Template())
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.count() == 2)
  }

  test("mislabeled CSV with .xlsx suffix falls back to the CSV reader") {
    val dir = tmp
    val p = dir.resolve("fake.xlsx")
    Files.writeString(p, "a,b\n1,2\n3,4\n")
    val df = TemplateReader.read(spark, p, Template())
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.count() == 2)
  }

  test("CSV: header_row + skiprows + delimiter (pandas replay)") {
    val p = tmp.resolve("messy.csv")
    Files.writeString(p,
      "banner;;\nskipme;;\ncol_a;col_b;col_c\n1;x;10\n2;y;20\n")
    // skiprows=[1], header_row=1 → drop raw row 1, header = 2nd remaining row
    val t = Template(sourceType = "csv", delimiter = ";", headerRow = 1,
      skiprows = List(1))
    val df = TemplateReader.readCsv(spark, p, t)
    assert(df.columns.toSeq == Seq("col_a", "col_b", "col_c"))
    assert(df.count() == 2)
    val r = df.orderBy("col_a").head()
    assert(r.getString(0) == "1" && r.getString(1) == "x")
  }

  private def csvReader(t: Template) = spark.read.option("sep", t.delimiter)
    .option("encoding", t.encoding).option("nullValue", "")

  test("CSV header parity: driver-read names equal Spark's header inference") {
    def utf8(s: String) = s.getBytes("UTF-8")
    val cases: Seq[(String, Array[Byte], Template)] = Seq(
      ("blank leading lines", utf8("\n  \n\na,b\n1,2\n\n3,4\n"), Template()),
      ("empty header cells", utf8("a,,c,\n1,2,3,4\n"), Template()),
      ("case-insensitive duplicates", utf8("Name,name,x,x,y\n1,2,3,4,5\n"), Template()),
      ("quoted cell with the delimiter", utf8("\"a,b\",c\n\"1,2\",3\n"), Template()),
      ("semicolons", utf8("a;b;c\n1;2;3\n"), Template(delimiter = ";")),
      ("latin-1", "café;naïve\nà;ü\n".getBytes("ISO-8859-1"),
        Template(delimiter = ";", encoding = "ISO-8859-1")),
      ("empty file", Array.emptyByteArray, Template()))
    cases.foreach { case (name, bytes, t) =>
      val p = tmp.resolve("h.csv")
      Files.write(p, bytes)
      val inferred = csvReader(t).option("header", "true").csv(p.toString)
      val (df, jobs) = SparkSpec.jobsOf(spark)(TemplateReader.readCsv(spark, p, t))
      assert(jobs == 0, s"$name: the read launched $jobs jobs")
      assert(df.columns.toSeq == inferred.columns.toSeq, name)
      assert(df.collect().toSeq == inferred.collect().toSeq, name)
    }
    // a directory of part files, as Spark writes a CSV
    val parts = tmp.resolve("parts")
    spark.range(6).selectExpr("id AS k", "id * 2 AS v").repartition(3)
      .write.option("header", "true").csv(parts.toString)
    val inferred = csvReader(Template()).option("header", "true").csv(parts.toString)
    val df = TemplateReader.readCsv(spark, parts, Template())
    assert(df.columns.toSeq == inferred.columns.toSeq)
    assert(df.collect().map(_.toString).sorted.toSeq ==
      inferred.collect().map(_.toString).sorted.toSeq)
  }

  // the reference semantics on Spark's raw records, numbered by zipWithIndex
  private def replay(p: java.nio.file.Path, t: Template) = {
    val raw = csvReader(t).option("header", "false").csv(p.toString)
    val headerRaw = Iterator.from(0).filterNot(t.skiprows.contains).drop(t.headerRow).next()
    val indexed = raw.rdd.zipWithIndex().collect().toSeq
    val names = indexed.collectFirst { case (r, i) if i == headerRaw =>
      r.toSeq.map(v => if (v == null) "" else v.toString)
    }.getOrElse(raw.columns.toSeq).zipWithIndex.map {
      case ("", i) => s"Unnamed: $i"
      case (n, _) => n
    }
    (names, indexed.collect {
      case (r, i) if i > headerRaw && !t.skiprows.contains(i.toInt) => r
    })
  }

  test("CSV header_row/skiprows parity with the raw-record-index replay") {
    val cases: Seq[(String, Template)] = Seq(
      ("banner;;\nskipme;;\ncol_a;col_b;col_c\n1;x;10\n2;y;20\n",
        Template(delimiter = ";", headerRow = 1, skiprows = List(1))),
      ("title,,\n\nsub,,\n\nk,,v\n1,2,3\n\n4,5,6\nskip,me,x\n7,8,9\n",
        Template(headerRow = 2, skiprows = List(5))),
      ("narrow title\nsub,\nk,,v\n1,2,3\n", Template(headerRow = 2)),
      ("a,b,c\nx,y\n1,2,3\n4,5,6,7\n", Template(headerRow = 1)),
      ("a,b\n", Template(headerRow = 3)),
      ("skip,me\nh1,h2\n1,2\n", Template(skiprows = List(0))))
    cases.foreach { case (text, t) =>
      val p = tmp.resolve("r.csv")
      Files.writeString(p, text)
      val (names, rows) = replay(p, t)
      val (df, jobs) = SparkSpec.jobsOf(spark)(TemplateReader.readCsv(spark, p, t))
      assert(jobs == 0, text)
      assert(df.columns.toSeq == names, text)
      assert(df.collect().toSeq == rows, text)
    }
  }

  test("CSV header_row/skiprows stay exact when the file splits") {
    val p = tmp.resolve("split.csv")
    Files.writeString(p, "banner,,\nskipme,,\nk,v,w\n" +
      (1 to 40).map(i => s"$i,x$i,y$i\n").mkString)
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val prev = keys.map(spark.conf.get)
    keys.foreach(spark.conf.set(_, "64"))
    try {
      val t = Template(headerRow = 1, skiprows = List(1))
      val df = TemplateReader.readCsv(spark, p, t)
      assert(df.rdd.getNumPartitions > 1)
      val (names, rows) = replay(p, t)
      assert(df.columns.toSeq == names)
      assert(df.collect().toSeq == rows)
      // a skipped record past the first split cannot be dropped by row id
      intercept[UnsupportedOperationException](
        TemplateReader.readCsv(spark, p, t.copy(skiprows = List(1, 30))))
    } finally keys.zip(prev).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("upload bytes parse like a path read (S9)") {
    val bytes = "k,v\n1,a\n2,b\n".getBytes("UTF-8")
    val df = TemplateReader.readBytes(spark, bytes, "up.csv", Template())
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.count() == 2)
  }

  test("DSv2 scan distributes a workbook directory, one partition per sheet") {
    val dir = tmp
    XlsxMini.write(dir.resolve("a.xlsx"), Seq(
      Sheet("S1", grid(Seq("id", "name"), Seq(1.0, "alpha"), Seq(2.0, "beta"))),
      Sheet("S2", grid(Seq("id", "name"), Seq(3.0, "gamma")))))
    XlsxMini.write(dir.resolve("b.xlsx"), Seq(
      Sheet("S1", grid(Seq("id", "name"), Seq(4.0, "delta")))))

    val df = spark.read.format("graft-xlsx").load(dir.toString)
    assert(df.schema.map(f => f.name -> f.dataType.typeName) == Seq(
      "id" -> "double", "name" -> "string",
      "source_file" -> "string", "source_sheet" -> "string"))
    // one InputPartition per (file, sheet): a.xlsx has 2 sheets, b.xlsx 1
    assert(df.rdd.getNumPartitions == 3)
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(1.0, 2.0, 3.0, 4.0))
    assert(rows.map(r => (r.getString(2), r.getString(3))).toSeq == Seq(
      ("a.xlsx", "S1"), ("a.xlsx", "S1"), ("a.xlsx", "S2"), ("b.xlsx", "S1")))
  }

  test("DSv2 scan prunes columns into the reader and filters sheets") {
    val dir = tmp
    XlsxMini.write(dir.resolve("w.xlsx"), Seq(
      Sheet("Keep", grid(Seq("k", "v"), Seq(1.0, "x"), Seq(2.0, "y"))),
      Sheet("Skip", grid(Seq("k", "v"), Seq(9.0, "z")))))
    val df = spark.read.format("graft-xlsx")
      .option("sheet", "Keep").load(dir.toString).select("v")
    // pruned schema reaches the scan leaf (source_file/source_sheet and k
    // are never converted)
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    assert(scan.nodeName.contains("BatchScan"), scan.nodeName)
    assert(scan.output.map(_.name) == Seq("v"), scan.output)
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("x", "y"))
  }

  test("DSv2 scan maps columns by name across files; missing columns null") {
    val dir = tmp
    XlsxMini.write(dir.resolve("a_full.xlsx"), Seq(
      Sheet("S", grid(Seq("id", "extra"), Seq(1.0, "e1")))))
    // second file lacks 'extra' and permutes column order
    XlsxMini.write(dir.resolve("b_partial.xlsx"), Seq(
      Sheet("S", grid(Seq("id"), Seq(2.0)))))
    val df = spark.read.format("graft-xlsx").load(dir.toString)
    val rows = df.orderBy("id").collect()
    assert(rows(0).getString(1) == "e1")
    assert(rows(1).isNullAt(1)) // name absent from b_partial.xlsx → null
  }

  test("DSv2 scan accepts an explicit schema for heterogeneous directories") {
    val dir = tmp
    XlsxMini.write(dir.resolve("t.xlsx"), Seq(
      Sheet("S", grid(Seq("id", "flag"), Seq(1.0, true), Seq(2.0, "oops")))))
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("flag",
        org.apache.spark.sql.types.BooleanType)))
    val rows = spark.read.format("graft-xlsx").schema(sch)
      .load(dir.toString).orderBy("id").collect()
    assert(rows(0).getBoolean(1))
    assert(rows(1).isNullAt(1)) // type-contradicting cell → null, not a crash
  }

  test("ZipCentral extracts workbook parts via ranged central-directory reads") {
    val p = tmp.resolve("zc.xlsx")
    XlsxMini.write(p, Seq(
      Sheet("Alpha", grid(Seq("a"), Seq(1.0))),
      Sheet("Beta", grid(Seq("b"), Seq(2.0)))))
    val raf = new java.io.RandomAccessFile(p.toFile, "r")
    try {
      val parts = graft.sources.ZipCentral.readEntries(raf.length(),
        (pos, buf) => { raf.seek(pos); raf.readFully(buf) },
        Set("xl/workbook.xml", "xl/_rels/workbook.xml.rels"))
      assert(parts.keySet ==
        Set("xl/workbook.xml", "xl/_rels/workbook.xml.rels"))
      val names = XlsxMini.sheetIndexFromParts(parts.get("xl/workbook.xml"),
        parts.get("xl/_rels/workbook.xml.rels")).map(_._1)
      assert(names == Seq("Alpha", "Beta")) // matches the full-zip listing
      assert(names == XlsxMini.sheetNames(p))
    } finally raf.close()
  }

  test("DSv2 lineage filters prune (file, sheet) partitions at planning") {
    val dir = tmp
    Seq("a", "b", "c").foreach { f =>
      XlsxMini.write(dir.resolve(s"$f.xlsx"), Seq(
        Sheet("S1", grid(Seq("id"), Seq(1.0))),
        Sheet("S2", grid(Seq("id"), Seq(2.0)))))
    }
    val df = spark.read.format("graft-xlsx").load(dir.toString)
    assert(df.rdd.getNumPartitions == 6) // 3 files x 2 sheets
    import org.apache.spark.sql.functions.col
    val bySheet = df.filter(col("source_sheet") === "S1")
    assert(bySheet.rdd.getNumPartitions == 3) // one per file
    assert(bySheet.count() == 3)
    val byFile = df.filter(col("source_file") === "b.xlsx")
    assert(byFile.rdd.getNumPartitions == 2) // one per sheet
    val both = df.filter(col("source_file") === "b.xlsx" &&
      col("source_sheet") === "S2")
    assert(both.rdd.getNumPartitions == 1)
    assert(both.collect().map(_.getDouble(0)).toSeq == Seq(2.0))
    // membership filters prune too
    val inSet = df.filter(col("source_file").isin("a.xlsx", "c.xlsx"))
    assert(inSet.rdd.getNumPartitions == 4)
    assert(inSet.count() == 4)
  }

  test("DSv2 inferAll unions headers across files; conflicts widen to string") {
    val dir = tmp
    // first file LACKS 'extra' — default first-file inference would drop
    // it everywhere; second file types 'id' as string → conflict
    XlsxMini.write(dir.resolve("a1.xlsx"), Seq(
      Sheet("S", grid(Seq("id"), Seq(1.0)))))
    XlsxMini.write(dir.resolve("b2.xlsx"), Seq(
      Sheet("S", grid(Seq("id", "extra"), Seq("two", 9.0)))))
    val plain = spark.read.format("graft-xlsx").load(dir.toString)
    assert(!plain.schema.fieldNames.contains("extra")) // documented foot-gun
    val df = spark.read.format("graft-xlsx")
      .option("inferAll", true).load(dir.toString)
    assert(df.schema.map(f => f.name -> f.dataType.typeName) == Seq(
      "id" -> "string", // double vs string conflict → string
      "extra" -> "double",
      "source_file" -> "string", "source_sheet" -> "string"))
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1", "two"))
    assert(rows(0).isNullAt(1)) // a1.xlsx has no 'extra'
    assert(rows(1).getDouble(1) == 9.0)
  }

  test("DSv2 failfast mode errors on a type-contradicting cell") {
    val dir = tmp
    XlsxMini.write(dir.resolve("poison.xlsx"), Seq(
      Sheet("S", grid(Seq("id", "flag"), Seq(1.0, true), Seq(2.0, "oops")))))
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("flag",
        org.apache.spark.sql.types.BooleanType)))
    val read = spark.read.format("graft-xlsx").schema(sch)
      .option("mode", "failfast").load(dir.toString)
    val e = intercept[Exception](read.collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => Option(c.getMessage).exists(
        _.contains("failfast"))), e.toString)
    // permissive default on the same file still nulls
    val ok = spark.read.format("graft-xlsx").schema(sch)
      .load(dir.toString).orderBy("id").collect()
    assert(ok(1).isNullAt(1))
  }
}
