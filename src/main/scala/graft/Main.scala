package graft

import graft.model.{Template, TemplateCodec}
import graft.operators.{Combiner, Exporter, Summaries}
import graft.plans.Pipeline
import graft.sources.YouTubeIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** CLI mirroring the reference's three entry points
  * (reference: src/cli.py:317-371):
  *
  *   run      --target-dir D --output-dir O     batch template pipeline
  *   combine  --mode concat|merge --keys k,k --out F file...
  *   youtube  --fixture F --playlist P --out-dir O   offline ingest+summaries
  */
object Main {

  def main(args: Array[String]): Unit = {
    // reuse a live session (tests, notebooks); only stop what we created
    val preExisting =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).isDefined
    val spark = GraftSession(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"))
    try args.headOption match {
      case Some("run") => runBatch(spark, parseFlags(args.tail))
      case Some("combine") => runCombine(spark, parseFlags(args.tail))
      case Some("youtube") => runYoutube(spark, parseFlags(args.tail))
      case _ =>
        System.err.println("usage: graft.Main run|combine|youtube [flags]")
        sys.exit(2)
    } finally if (!preExisting) spark.stop()
  }

  private def parseFlags(args: Array[String]): (Map[String, String], List[String]) = {
    val flags = scala.collection.mutable.Map[String, String]()
    val rest = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < args.length) {
      if (args(i).startsWith("--") && i + 1 < args.length) {
        flags(args(i).stripPrefix("--")) = args(i + 1); i += 2
      } else { rest += args(i); i += 1 }
    }
    (flags.toMap, rest.toList)
  }

  /** `run`: per-file template resolution → pipeline with archive/quarantine;
    * subdirectories are processed as companies (reference: src/cli.py:54-162). */
  private def runBatch(spark: SparkSession, fr: (Map[String, String], List[String])): Unit = {
    val (flags, _) = fr
    val targetDir = Paths.get(flags.getOrElse("target-dir", "data/input"))
    val outputDir = Paths.get(flags.getOrElse("output-dir", "data/output"))
    val level = flags.getOrElse("validation-level", "coerce")

    def processDir(dir: Path, out: Path): Unit = {
      val files = Files.list(dir).iterator().asScala
        .filter(p => { val n = p.getFileName.toString.toLowerCase
          (n.endsWith(".xlsx") || n.endsWith(".csv")) && !n.startsWith(".") })
        .toList.sortBy(_.getFileName.toString)
      files.foreach { f =>
        TemplateCodec.locate(f) match {
          case None => println(s"[skip] no template for ${f.getFileName}")
          case Some(tplPath) =>
            val t = TemplateCodec.load(tplPath)
            val stem = f.getFileName.toString.replaceAll("\\.[^.]+$", "")
            val result = Pipeline.runPipeline(spark, f, t,
              out.resolve(s"${stem}_clean.parquet"),
              dir.resolve("archive"), dir.resolve("quarantine"),
              validationLevel = level)
            println(s"[${if (result.success) "ok" else "FAIL"}] ${f.getFileName}: ${result.message}")
        }
      }
    }

    val subdirs = Files.list(targetDir).iterator().asScala.filter(Files.isDirectory(_))
      .filterNot(p => Set("archive", "quarantine").contains(p.getFileName.toString))
      .toList.sortBy(_.getFileName.toString)
    if (subdirs.nonEmpty)
      subdirs.foreach(d => processDir(d, outputDir.resolve(d.getFileName)))
    else processDir(targetDir, outputDir)
  }

  /** `combine`: glob files → concat (U1, strict option) or merge (J1)
    * (reference: src/cli.py:165-177; src/combine_runner.py:49-62). */
  private def runCombine(spark: SparkSession, fr: (Map[String, String], List[String])): Unit = {
    val (flags, files) = fr
    require(files.nonEmpty, "combine needs input files")
    val frames = files.map(readFrame(spark, _))
    val out = flags.getOrElse("mode", "concat") match {
      case "concat" => Combiner.concat(frames, flags.get("strict-schema").contains("true"))
      case "merge" =>
        val keys = flags.getOrElse("keys", "").split(",").map(_.trim).filter(_.nonEmpty)
        Combiner.merge(frames, keys.toIndexedSeq, flags.getOrElse("how", "inner"))
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    saveOutput(out, Paths.get(flags.getOrElse("out", "combined.parquet")))
  }

  private def readFrame(spark: SparkSession, path: String): DataFrame = {
    val lower = path.toLowerCase
    if (lower.endsWith(".parquet")) spark.read.parquet(path)
    else if (lower.endsWith(".csv")) spark.read.option("header", "true").csv(path)
    else if (lower.endsWith(".json") || lower.endsWith(".jsonl")) spark.read.json(path)
    else graft.sources.TemplateReader.read(spark, Paths.get(path), Template())
  }

  private def saveOutput(df: DataFrame, out: Path): Unit = {
    val n = out.getFileName.toString.toLowerCase
    if (n.endsWith(".xlsx")) Exporter.writeXlsx(df, out)
    else if (n.endsWith(".csv")) Exporter.writeCsv(df, out)
    else if (n.endsWith(".jsonl")) Exporter.writeJsonl(df, out)
    else Exporter.writeParquet(df, out)
    println(s"[ok] wrote $out")
  }

  /** `youtube`: offline fixture ingest → dedupe → engagement → summaries →
    * detail + summary workbook + manifest (reference: src/cli.py:180-254). */
  private def runYoutube(spark: SparkSession, fr: (Map[String, String], List[String])): Unit = {
    val (flags, _) = fr
    val fixture = Paths.get(flags.getOrElse("fixture",
      throw new IllegalArgumentException("--fixture <jsonl> required (offline build)")))
    val outDir = Paths.get(flags.getOrElse("out-dir", "data/output"))
    val api = new YouTubeIngest.FixtureApi(fixture)
    val playlists = flags.getOrElse("playlist", "pl1").split(",").toSeq
    val frames = playlists.map { p =>
      YouTubeIngest.fetchVideosDataFrame(spark, api, p)
        .withColumn("source", lit(s"playlist:$p"))
    }
    var detail = Combiner.concat(frames)
    detail = graft.operators.TransformEngine.dedupe(detail, List("video_id"))
    detail = Summaries.addEngagementMetrics(detail)
      .orderBy(desc("view_count"), desc("like_count"))
    val top = Summaries.topVideos(detail, flags.getOrElse("top-n", "10").toInt)
    val perChannel = Summaries.perChannel(detail)
    val perYear = Summaries.perYear(
      detail.withColumn("published_at", to_timestamp(col("published_at"))))
    Files.createDirectories(outDir)
    Exporter.writeWorkbook(outDir.resolve("youtube_summary.xlsx"), Seq(
      "detail" -> detail, "top_videos" -> top,
      "per_channel" -> perChannel, "per_year" -> perYear))
    val (_, metrics) = Exporter.exportDataset(detail, outDir, "youtube_detail",
      Seq("parquet", "jsonl"), runId = java.util.UUID.randomUUID().toString)
    println(s"[ok] youtube: ${metrics("rows")} videos → $outDir")
  }
}
