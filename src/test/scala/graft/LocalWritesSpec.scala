package graft

import graft.io.{LocalWriteFileSystem, LocalWrites}
import graft.model.Template
import graft.operators.Exporter
import graft.plans.Pipeline
import org.apache.hadoop.fs.{FileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The fork-free local writes: same files and modes as Spark's default
  * write, no `chmod` process, and no trace left on the session. */
class LocalWritesSpec extends SparkSpec {
  import spark.implicits._

  private def withDir[T](prefix: String)(body: Path => T): T =
    graft.streaming.Replay.withTempDir(spark, prefix)(d => body(Path.of(d)))

  /** Relative path (part-file UUIDs masked) → `unix:mode` of every entry. */
  private def modes(root: Path): Map[String, Int] = {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    val walk = Files.walk(root)
    try walk.iterator.asScala.map { p =>
      root.relativize(p).toString.replaceAll(uuid, "<uuid>") ->
        Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
    }.toMap
    finally walk.close()
  }

  private def oct(digits: String): Int = Integer.parseInt(digits, 8)

  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  private val frame: DataFrame =
    Seq((1, "a", 1.5), (2, "b", 2.5), (3, null, 3.5)).toDF("id", "s", "x")

  test("each path writer gives the default write's files and modes") {
    val writers: Seq[(String, (DataFrame, Path) => Unit, DataFrame => Path => Unit)] = Seq(
      ("parquet", Exporter.writeParquet, df => p => df.write.mode("overwrite").parquet(p.toString)),
      ("jsonl", Exporter.writeJsonl, df => p => df.write.mode("overwrite").json(p.toString)),
      ("csv", Exporter.writeCsv,
        df => p => df.write.mode("overwrite").option("header", "true").csv(p.toString)),
      ("orc", Exporter.writeOrc, df => p => df.write.mode("overwrite").orc(p.toString)))
    withDir("local_writes") { dir =>
      writers.foreach { case (fmt, graftWrite, sparkWrite) =>
        graftWrite(frame, dir.resolve(s"graft_$fmt"))
        sparkWrite(frame)(dir.resolve(s"spark_$fmt"))
        val (got, want) = (modes(dir.resolve(s"graft_$fmt")), modes(dir.resolve(s"spark_$fmt")))
        assert(got == want, s"$fmt")
        assert(got.keySet.contains("_SUCCESS") && got.keySet.contains("._SUCCESS.crc") &&
          got.keySet.exists(_.startsWith("part-")) &&
          got.keySet.exists(k => k.startsWith(".part-") && k.endsWith(".crc")), s"$fmt: $got")
        // an overwrite of an existing output goes through it too
        graftWrite(frame, dir.resolve(s"graft_$fmt"))
        assert(modes(dir.resolve(s"graft_$fmt")).keySet == got.keySet, s"$fmt rewrite")
      }
    }
  }

  test("permissions are set in-process, a sticky bit through Hadoop") {
    withDir("local_chmod") { dir =>
      val fs = new LocalWriteFileSystem
      fs.initialize(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      val file = Files.writeString(dir.resolve("f.txt"), "x")
      fs.setPermission(new HPath(file.toUri), new FsPermission(oct("640").toShort))
      assert(mode(file) == oct("640"))
      val sub = Files.createDirectory(dir.resolve("d"))
      fs.setPermission(new HPath(sub.toUri), new FsPermission(oct("1777").toShort))
      assert(mode(sub) == oct("1777"))
      intercept[java.io.FileNotFoundException](fs.setPermission(
        new HPath(dir.resolve("missing").toUri), new FsPermission(oct("644").toShort)))
    }
  }

  test("a write leaves the session conf, Hadoop conf and FS cache as they were") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def local() = FileSystem.get(new java.net.URI("file:///"), hadoopConf)
    val (confBefore, implBefore, fsBefore) =
      (spark.conf.getAll, hadoopConf.get("fs.file.impl"), local())
    withDir("local_conf") { dir => Exporter.writeParquet(frame, dir.resolve("out")) }
    assert(spark.conf.getAll == confBefore)
    assert(hadoopConf.get("fs.file.impl") == implBefore)
    // the cached instance is still the one before, of a Hadoop/Hive class
    assert(local() eq fsBefore)
    assert(LocalWrites.StockClasses.contains(fsBefore.getClass.getName))
    assert(!FileSystem.getLocal(hadoopConf).isInstanceOf[LocalWriteFileSystem])
  }

  test("a driver-side file write gets the fork-free file system, then the cache as before") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def local() = FileSystem.get(new java.net.URI("file:///"), hadoopConf)
    val fsBefore = local()
    withDir("local_fs") { dir =>
      def put(fs: FileSystem, name: String): Unit = {
        val out = fs.create(new HPath(dir.resolve(name).toString), true)
        try out.write(7) finally out.close()
      }
      val used = LocalWrites.withFileSystem(spark, new HPath(dir.toString)) { fs =>
        put(fs, "gen"); fs }
      assert(used.isInstanceOf[LocalWriteFileSystem])
      put(fsBefore, "stock")
      assert(modes(dir)("gen") == modes(dir)("stock") &&
        modes(dir)(".gen.crc") == modes(dir)(".stock.crc"), modes(dir))
      SessionConf.withConf(spark, "fs.file.impl" -> classOf[RawLocalFileSystem].getName) {
        LocalWrites.withFileSystem(spark, new HPath(dir.toString)) { fs =>
          assert(!fs.isInstanceOf[LocalWriteFileSystem]) }
      }
    }
    assert(local() eq fsBefore)
  }

  test("a caller's own fs.file.impl is kept") {
    assert(LocalWrites.options(spark)("fs.file.impl") == classOf[LocalWriteFileSystem].getName)
    SessionConf.withConf(spark, "fs.file.impl" -> classOf[RawLocalFileSystem].getName) {
      assert(LocalWrites.options(spark).isEmpty)
      withDir("local_own") { dir =>
        Exporter.writeParquet(frame, dir.resolve("out"))
        assert(spark.read.parquet(dir.resolve("out").toString).count() == 3)
      }
    }
    assert(LocalWrites.options(spark).nonEmpty)
  }

  test("the CLI run path forks no chmod, archived or quarantined") {
    withDir("local_forks") { dir =>
      val header = "article_sku,report_date,sales_amount\n"
      val sheets = Seq(
        ("good.csv", header + "s1,2021-01-02,10.5\ns2,2021-01-03,2\n", true),
        ("bad.csv", header + "s1,NOT_A_DATE,1\ns2,ALSO_BAD,2\ns3,2021-01-04,4\n", false))
        .map { case (n, text, ok) => (Files.writeString(dir.resolve(n), text), ok) }
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      val file = Files.createTempFile("pipeline_forks", ".jfr")
      try {
        rec.start()
        // one fork of our own proves the recording sees process starts
        new ProcessBuilder("true").start().waitFor()
        val results = sheets.map { case (f, _) =>
          Pipeline.runPipeline(spark, f, Template(sourceType = "csv"),
            dir.resolve(s"out/${f.getFileName}.parquet"), dir.resolve("archive"),
            dir.resolve("quarantine"))
        }
        rec.stop()
        rec.dump(file)
        assert(results.map(_.success) == sheets.map(_._2), results.map(_.message))
        val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(file)
          .asScala.map(_.getString("command")).toSeq
        assert(commands.contains("true"), s"no ProcessStart recorded: $commands")
        val chmods = commands.filter(_.contains("chmod"))
        assert(chmods.isEmpty, s"${chmods.length} chmod starts, e.g. " +
          chmods.take(3).mkString("; "))
        // the archived file's output keeps the default write's modes
        val out = dir.resolve("out/good.csv.parquet")
        assert(mode(out) == oct("755"))
        assert(modes(out).collect { case (k, m) if k.nonEmpty => m & oct("7777") }.toSet ==
          Set(oct("644")))
        assert(Files.exists(dir.resolve("archive/good.csv")))
        assert(Files.exists(dir.resolve("quarantine/bad.csv")))
        assert(!Files.exists(dir.resolve("out/bad.csv.parquet")))
        assert(!Files.exists(dir.resolve("out/_staging.bad.csv.parquet")))
      } finally {
        rec.close()
        Files.deleteIfExists(file)
      }
    }
  }
}
