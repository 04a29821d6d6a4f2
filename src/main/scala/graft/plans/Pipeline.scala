package graft.plans

import graft.model.Template
import graft.operators.{Contract, Exporter, HeaderDiff, TransformEngine}
import graft.sources.TemplateReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path}

/** The reference's two orchestration entry points, Spark-shaped:
  *
  *  - `runFullProcess` ≡ `DataEngine.run_full_process` (reference:
  *    src/api/v1/engine.py:249-290): read → normalize (no-op; renames happen
  *    in filter_and_rename at read) → transform → validate. Every stage emits
  *    lazy transformations on ONE DataFrame; the metrics and the row count
  *    come from one `noop` action over it.
  *  - `runPipeline` ≡ `run_pipeline` (reference: src/pipeline.py:120-184):
  *    adds the drift gate, sink, K7 validation-report sidecar, and K8
  *    archive/quarantine control flow (V3). Its one Spark job per file is
  *    the sink write, which fills the transform's observed metrics too.
  */
object Pipeline {

  final case class ProcessResult(
      success: Boolean,
      message: String,
      outputPath: Option[String],
      rowCount: Long,
      metrics: Map[String, Any])

  def runFullProcess(spark: SparkSession, sourcePath: Path, t: Template,
      validationLevel: String = "coerce"): (ProcessResult, Option[DataFrame]) = {
    try {
      val raw = TemplateReader.read(spark, sourcePath, t)
      val (clean, metricsHandle) = TransformEngine.transform(raw, t)
      val validation = Contract.validate(clean, t, validationLevel)
      val (metrics, rowsOut) = metricsHandle.measure()
      if (!validation.isValid)
        (invalid(validation, metrics), Some(clean))
      else
        (ProcessResult(success = true, "Processing successful.", None,
          rowsOut, metrics), Some(validation.data))
    } catch {
      case e: Exception =>
        (ProcessResult(success = false, message(e), None, 0L, Map.empty), None)
    }
  }

  private def invalid(validation: Contract.ValidationResult,
      metrics: Map[String, Any]): ProcessResult =
    ProcessResult(success = false, "Validation failed.", None,
      validation.rowCount, metrics ++ Map("validation_errors" -> validation.errors))

  private def message(e: Exception): String = Option(e.getMessage).getOrElse(e.toString)

  /** Full file pipeline with V3 quarantine-on-failure control flow. Writes
    * `<out>.parquet` (bulk) or `.xlsx` (summary) + the K7 sidecar, then moves
    * the source to archive/ on success or copies to quarantine/ on failure.
    *
    * The output is written to a staged sibling first; that one write is the
    * file's only Spark job and fills the transform's observed metrics. Then
    * the staged output either replaces `outputPath` (and the source is
    * archived) or is deleted (and the source quarantined), so a rejected file
    * never touches an existing output.
    *
    * Enforces the reference's documented-but-unenforced quarantine threshold
    * (reference: src/config.yaml:124-127 `quarantine_threshold: 0.1` — "If
    * >10% of rows fail, reject the whole file"): parse failures (A6's
    * date + numeric counts, observed in the write — no extra job) over the
    * post-unpivot row count; exceeding the ratio quarantines the file even
    * though each bad row alone would only be coerced to null. Pass
    * `quarantineThreshold = 1.0` to disable. */
  def runPipeline(spark: SparkSession, sourcePath: Path, t: Template,
      outputPath: Path, archiveDir: Path, quarantineDir: Path,
      validationLevel: String = "coerce",
      failOnMissing: Boolean = false, failOnExtra: Boolean = false,
      quarantineThreshold: Double = 0.1): ProcessResult = {
    def rejected(r: ProcessResult): ProcessResult = {
      Exporter.quarantine(sourcePath, r.message, quarantineDir)
      r
    }
    val prepared =
      try {
        val raw = TemplateReader.read(spark, sourcePath, t)
        val (clean, metricsHandle) = TransformEngine.transform(raw, t)
        val validation = Contract.validate(clean, t, validationLevel)
        if (validation.isValid) Right((validation.data, metricsHandle))
        else Left(invalid(validation, metricsHandle.compute()))
      } catch {
        case e: Exception => Left(ProcessResult(success = false, message(e), None, 0L, Map.empty))
      }
    prepared match {
      case Left(failure) => rejected(failure)
      case Right((df, metricsHandle)) =>
        val outName = outputPath.getFileName.toString
        val staged = outputPath.resolveSibling(s"_staging.$outName")
        try {
          val (metrics, rowsOut) =
            if (outName.toLowerCase.endsWith(".xlsx")) {
              // toLocalIterator reports its query done before it drains the
              // rows, so the xlsx sink cannot carry the observations
              Exporter.writeXlsx(df, staged)
              metricsHandle.measure()
            } else {
              Exporter.writeParquet(df, staged)
              metricsHandle.observed()
            }
          val result = ProcessResult(success = true, "Processing successful.", None,
            rowsOut, metrics)
          thresholdExceeded(metrics, quarantineThreshold) match {
            case Some(why) =>
              delete(staged)
              rejected(result.copy(success = false, message = why))
            case None =>
              val (missing, extra) =
                HeaderDiff.check(df.columns.toSeq, t, failOnMissing, failOnExtra)
              delete(outputPath)
              Files.move(staged, outputPath)
              Exporter.writeValidationReport(
                outputPath.resolveSibling(outName + ".validation.txt"),
                metrics ++ Map(
                  "missing_vs_template" -> missing.mkString(","),
                  "extra_vs_template" -> extra.mkString(","),
                  "rows_out" -> rowsOut))
              Exporter.archive(sourcePath, archiveDir)
              result.copy(outputPath = Some(outputPath.toString))
          }
        } catch {
          case e: Exception =>
            delete(staged)
            Exporter.quarantine(sourcePath, message(e), quarantineDir)
            val metrics =
              try metricsHandle.compute() catch { case _: Exception => Map.empty[String, Any] }
            ProcessResult(success = false, e.getMessage, None, 0L, metrics)
        }
    }
  }

  /** The quarantine-threshold verdict on a file's parse failures. */
  private def thresholdExceeded(metrics: Map[String, Any],
      threshold: Double): Option[String] = {
    val failed =
      metrics.get("date_parse_failures").collect { case n: Long => n }.getOrElse(0L) +
      metrics.get("numeric_parse_failures").collect { case n: Long => n }.getOrElse(0L)
    val total = metrics.get("unpivot_after")
      .collect { case (n: Long, _) => n }.getOrElse(0L)
    if (total > 0 && failed.toDouble / total > threshold)
      Some(s"Quarantine threshold exceeded: $failed of $total rows " +
        f"(${failed.toDouble / total * 100}%.1f%%) failed to parse " +
        f"(threshold ${threshold * 100}%.0f%%).")
    else None
  }

  /** Delete a file or a directory tree, if present. */
  private def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
      finally walk.close()
    }
}
