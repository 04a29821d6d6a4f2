package graft

import graft.model.Template
import graft.operators.TransformEngine
import graft.plans.Pipeline
import graft.sources.TemplateReader
import org.apache.spark.sql.functions._

/** Mirrors the reference's engine tests (tests/test_engine_api.py:8-64,
  * tests/test_headers_and_unpivot.py:9-61) plus the coercion edge cases. */
class TransformEngineSpec extends SparkSpec {
  import spark.implicits._

  private def wide = Seq(("s1", 1, 3), ("s2", 2, 4)).toDF("article_sku", "Jan", "Feb")

  private val unpivotTpl = Template(
    columnMappings = Map("article_sku" -> "article_sku"),
    unpivot = true, varName = "period", valueName = "sales_amount",
    providerName = Some("acme"))

  test("unpivot melts wide months to long rows with provider_id") {
    val (out, m) = TransformEngine.transform(wide, unpivotTpl)
    val rows = out.collect()
    assert(rows.length == 4)
    assert(out.columns.toSet == Set("article_sku", "period", "sales_amount", "provider_id"))
    assert(rows.forall(_.getAs[String]("provider_id") == "acme"))
    assert(out.filter($"article_sku" === "s1" && $"period" === "Jan")
      .head().getAs[Double]("sales_amount") == 1.0)
    val metrics = m.compute()
    assert(metrics("unpivot_before") == ((2L, 3)))
    assert(metrics("unpivot_after") == ((4L, 3)))
  }

  test("unpivot skipped when no mapped id column present") {
    val df = Seq((1, 2)).toDF("a", "b")
    val (out, _) = TransformEngine.transform(df,
      Template(columnMappings = Map("zz" -> "zz"), unpivot = true))
    assert(out.count() == 1 && out.columns.contains("a"))
  }

  test("combine_on group-sum keeps all-null groups null (min_count=1)") {
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("b", None), ("b", None))
      .toDF("k", "v")
    val out = TransformEngine.combineOn(df, List("k"), Nil).orderBy("k").collect()
    assert(out(0).getDouble(1) == 3.0)
    assert(out(1).isNullAt(1))
  }

  test("dedupe parity mode keeps first row in explicit order") {
    val df = Seq(("k1", 2, "second"), ("k1", 1, "first"), ("k2", 5, "only"))
      .toDF("k", "ord", "tag")
    val out = TransformEngine.dedupe(df, List("k"), Some(Seq(col("ord"))))
      .orderBy("k").collect()
    assert(out.map(_.getString(2)).toSeq == Seq("first", "only"))
  }

  test("date coercion: multiple formats parse, junk nulls") {
    val df = Seq("2021-03-04", "2021/03/04", "03/04/2021", "04.03.2021", "junk")
      .toDF("d")
    val parsed = df.select(TransformEngine
      .coerceDate(col("d"), org.apache.spark.sql.types.StringType).as("p"))
      .collect().map(r => Option(r.get(0)))
    assert(parsed.take(4).forall(_.isDefined))
    assert(parsed.last.isEmpty)
  }

  test("int coercion accepts '15.0' but rejects '15.5' and text (pandas to_numeric)") {
    val df = Seq("15", "15.0", "15.5", "x", " 7 ").toDF("s")
    val out = df.select(TransformEngine.coerceInt(col("s")).as("i"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out.toSeq == Seq(Some(15L), Some(15L), None, None, Some(7L)))
  }

  test("drop null columns threshold keeps sparse-but-present columns") {
    val df = Seq((1, Some("x"), None: Option[String]),
                 (2, None, None), (3, Some("y"), None))
      .toDF("k", "half", "empty")
    val out = TransformEngine.dropNullColumns(df, 0.5)
    assert(out.columns.toSeq == Seq("k", "half"))
  }

  test("trim + strip thousands clean string cols, keep nulls null") {
    val df = Seq(Some("  1,234 567  "), None).toDF("s")
    val out = TransformEngine.stripThousands(TransformEngine.trimStrings(df))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("1234567"), None))
  }

  test("transform coerces report_date/sales_amount and drops bad dates") {
    val df = Seq(("2021-01-02", "10.5"), ("bad", "2"), ("2021-01-03", "junk"))
      .toDF("report_date", "sales_amount")
    val (out, m) = TransformEngine.transform(df, Template(providerName = Some("p")))
    val rows = out.orderBy("report_date").collect()
    assert(rows.length == 2) // 'bad' date row dropped (F6)
    assert(rows.map(_.getAs[Double]("sales_amount")).toSeq == Seq(10.5, 0.0)) // junk → 0.0
    val metrics = m.compute()
    assert(metrics("date_parse_failures") == 1L)
    assert(metrics("numeric_parse_failures") == 1L)
  }

  test("metrics are exact after earlier actions on the frame") {
    val amounts = Seq(
      ("s1", "10", "1,000", "x"), ("s2", "n/a", "5", "7"), ("s3", null, "2.5", null))
      .toDF("article_sku", "2021-01-31", "2021-02-28", "Total")
    val facts = Seq(
      ("2021-01-02", "1", "a", 1), ("2021-01-03", "2", "a", 2), ("2021-01-04", "zz", "b", 3),
      ("bad", "4", "b", 4), ("2021-01-05", "5", "c", 5))
      .toDF("report_date", "sales_amount", "k", "ord")
    val sparse = Seq[(String, String, String, String)](
      ("2021-01-02", "1", "x", null), ("2021-01-03", "2", null, null),
      ("2021-01-04", "3", "y", null))
      .toDF("report_date", "sales_amount", "half", "empty")
    val blanks = Seq[(String, String)]((null, null), ("2021-01-02", "1"), (null, null))
      .toDF("report_date", "sales_amount")
    // (name, input, template, dedupe order, expected metrics, rows out)
    val cases = Seq(
      ("unpivot", amounts, Template(columnMappings = Map("article_sku" -> "article_sku"),
        unpivot = true, varName = "report_date", valueName = "sales_amount",
        trimStrings = true, stripThousands = true, providerName = Some("p")), None,
        ((3L, 4), (9L, 3), 0L, 3L, 2L), 6L),
      ("combine_on", facts.drop("ord"), Template(combineOn = List("k"),
        providerName = Some("p")), None,
        ((5L, 3), (5L, 3), 0L, 1L, 1L), 3L),
      ("dedupe_on keep-first", facts, Template(dedupeOn = List("k"),
        providerName = Some("p")), Some(Seq(col("ord"))),
        ((5L, 4), (5L, 4), 1L, 1L, 1L), 3L),
      ("drop_null_columns_threshold", sparse, Template(dropNullColumnsThreshold = Some(0.5),
        providerName = Some("p")), None,
        ((3L, 4), (3L, 4), 0L, 0L, 0L), 3L),
      ("drop_empty_rows", blanks, Template(dropEmptyRows = true), None,
        ((3L, 2), (3L, 2), 0L, 0L, 0L), 1L))
    cases.foreach { case (name, df, t, order, (before, after, dropped, dateFail, numFail), rows) =>
      val (out, m) = TransformEngine.transform(df, t, order)
      // a sort's sampling job and a limit run the plan before compute()
      out.orderBy(out.columns.head).collect()
      out.limit(1).collect()
      assert(m.measure() == ((Map(
        "unpivot_before" -> before, "unpivot_after" -> after,
        "dedupe_dropped" -> dropped, "date_parse_failures" -> dateFail,
        "numeric_parse_failures" -> numFail), rows)), name)
    }
  }

  test("job budget: one job per pipeline file and per compute(), no cache left") {
    val dir = java.nio.file.Files.createTempDirectory("job_budget")
    def sheet(name: String, text: String) =
      java.nio.file.Files.writeString(dir.resolve(name), text)
    val rows = "s1,2021-01-02,10.5\ns2,2021-01-03,2\ns3,2021-01-04,4\n"
    val header = "article_sku,report_date,sales_amount\n"
    // (file, template, archived, rows out)
    val files = Seq(
      (sheet("plain.csv", header + rows), Template(sourceType = "csv"), true, 3L),
      (sheet("titled.csv", "Report,,\nprinted today,,\nregion x,,\n" + header + rows),
        Template(sourceType = "csv", headerRow = 2, skiprows = List(1)), true, 3L),
      (sheet("quarantined.csv", header + "s1,NOT_A_DATE,1\ns2,ALSO_BAD,2\ns3,2021-01-04,4\n"),
        Template(sourceType = "csv"), false, 1L))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    files.foreach { case (f, t, archived, rowsOut) =>
      val (r, meter) = JobMeter(spark) {
        Pipeline.runPipeline(spark, f, t, dir.resolve(s"${f.getFileName}.parquet"),
          dir.resolve("archive"), dir.resolve("quarantine"))
      }
      assert(r.success == archived && r.rowCount == rowsOut, s"$f: ${r.message}")
      assert(meter.jobs == 1, s"$f: ${meter.jobs} jobs")
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)

    val (_, m) = TransformEngine.transform(
      TemplateReader.read(spark, dir.resolve("archive/plain.csv"), Template(sourceType = "csv")),
      Template(providerName = Some("p")))
    val (metrics, meter) = JobMeter(spark)(m.compute())
    assert(metrics("unpivot_before") == ((3L, 3)))
    assert(meter.jobs == 1, s"compute(): ${meter.jobs} jobs")
  }

  test("filter_and_rename positional header mode takes first N columns") {
    val df = Seq((1, "a", true)).toDF("x", "y", "z")
    val tpl = Template(headers = List(
      graft.model.HeaderCell("x", 0, 0, alias = Some("id")),
      graft.model.HeaderCell("y", 1, 0)))
    val out = TransformEngine.filterAndRename(df, tpl)
    assert(out.columns.toSeq == Seq("id", "y"))
  }

  test("replaceHeaders pads and truncates to frame width") {
    val df = Seq((1, 2, 3)).toDF("a", "b", "c")
    assert(TransformEngine.replaceHeaders(df, Seq("x", "y")).columns.toSeq ==
      Seq("x", "y", "col_2"))
    assert(TransformEngine.replaceHeaders(df, Seq("p", "q", "r", "s")).columns.toSeq ==
      Seq("p", "q", "r"))
  }

  test("snakeCase fallback naming") {
    assert(TransformEngine.snakeCase("Sales Amount (EUR)") == "sales_amount_eur")
    assert(TransformEngine.snakeCase("__Already_snake__") == "already_snake")
  }
}
