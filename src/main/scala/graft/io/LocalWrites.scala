package graft.io

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** Path writes to the local file system without forking a process.
  *
  * Hadoop's local file system, run without its native library, forks
  * `chmod` for every permission it sets, and a Spark file write sets one
  * on each directory the output committer makes (the output, `_temporary`
  * and the attempt directories), on each part file, on `_SUCCESS` and on
  * every `.crc` sidecar: about nine process starts for a one-file write.
  * [[LocalWriteFileSystem]] sets the same bits in-process.
  *
  * It is passed as two writer options, `fs.file.impl` and
  * `fs.file.impl.disable.cache`. Spark copies a file write's options into
  * that write's Hadoop conf, which both the driver's committer and the
  * executors' part writers resolve `file:` paths with; so the write uses
  * it while the session conf, the SparkContext's Hadoop conf and Hadoop's
  * FileSystem cache stay as the caller left them, in any session. A write
  * whose conf maps `file:` to a class of the caller's keeps that class. */
private[graft] object LocalWrites {

  private val ImplKey = "fs.file.impl"

  private val Options = Map(
    ImplKey -> classOf[LocalWriteFileSystem].getName,
    // the cache is keyed by scheme and user, not class: a cached instance
    // would hand this class to every later `file:` lookup, or the stock
    // one to this write
    s"$ImplKey.disable.cache" -> "true")

  /** The `file:` classes a session resolves to when no caller chose one:
    * Hadoop's, or Hive's subclass, which Spark's bundled Hive jar
    * registers for `file` too (whichever jar loads last wins). The
    * subclass only refuses a `rename` onto an existing file, which no
    * committer does: it deletes such a target first. */
  val StockClasses: Set[String] = Set(classOf[LocalFileSystem].getName,
    "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")

  /** `df.write` for a path write, with the fork-free file system when the
    * session resolves `file:` to a stock class. */
  def write(df: DataFrame): DataFrameWriter[Row] =
    df.write.options(options(df.sparkSession))

  /** Run `f` on the file system of a driver-side write to `p`: the
    * fork-free one (a new instance, closed after `f`) when `p` resolves to
    * a stock `file:` class, else `p`'s own (cached, left open). */
  def withFileSystem[T](spark: SparkSession, p: Path)(f: FileSystem => T): T = {
    val conf = spark.sessionState.newHadoopConf()
    options(spark).foreach { case (k, v) => conf.set(k, v) }
    val fs = p.getFileSystem(conf)
    try f(fs) finally if (fs.isInstanceOf[LocalWriteFileSystem]) fs.close()
  }

  /** The writer options [[write]] adds: none when a caller's own
    * `fs.file.impl` is in force. */
  def options(spark: SparkSession): Map[String, String] =
    if (StockClasses.contains(FileSystem.getFileSystemClass("file",
        spark.sessionState.newHadoopConf()).getName)) Options
    else Map.empty
}

/** Hadoop's checksummed [[LocalFileSystem]] over [[InProcessChmod]]; built
  * by Hadoop, reflectively, through its no-argument constructor. */
private[graft] final class LocalWriteFileSystem extends LocalFileSystem(new InProcessChmod)

/** Hadoop's raw local file system with `setPermission` done by
  * `Files.setPosixFilePermissions` instead of a `chmod` process. A sticky
  * bit, which `java.nio` cannot set, and a store without POSIX attributes
  * go to Hadoop's own implementation. */
private[graft] final class InProcessChmod extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
        case e: NoSuchFileException =>
          throw new FileNotFoundException(s"File $p does not exist: ${e.getMessage}")
      }
}
