package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of the temp checkpoints [[Replay]] creates
  * and deletes itself: plain `java.nio` calls on a local directory.
  *
  * Hadoop's local file system, run without its native library, forks a
  * process for every permission change (`chmod` on each created file and
  * directory) and every FileContext rename (`readlink`), and the offset
  * log, the commit log and each state store's delta files all pay those
  * forks on every micro-batch. Nothing here sets a permission or resolves
  * a link, so a replay spawns no process at all. Files get the JVM's
  * default mode and no `.crc` sidecars; the checkpoint never outlives the
  * replay, so neither is needed.
  *
  * Spark builds one per checkpoint path through
  * `spark.sql.streaming.checkpointFileManagerClass`, which
  * [[Replay.withCheckpoint]] sets only around its own temp checkpoints;
  * its reflective constructor passes a Hadoop conf, which no call here
  * needs. */
private[graft] final class LocalCheckpointFileManager(root: Path,
    hadoopConf: Configuration) extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  local(root) // a non-local root fails here, before any file is written

  /** A temp file next to `path`; `close` moves it into place with one
    * atomic `rename(2)`, `cancel` deletes it. Without
    * `overwriteIfPossible` an existing target is kept and `close` throws
    * Hadoop's `FileAlreadyExistsException`, which the metadata logs
    * treat as a concurrent writer. */
  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val dst = local(path)
    Files.createDirectories(dst.getParent)
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp")
    new CancellableFSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(tmp), BufferBytes)) {
      private var done = false
      override def close(): Unit = synchronized {
        if (!done) {
          done = true
          try {
            underlyingStream.close()
            if (!overwriteIfPossible && Files.exists(dst))
              throw new FileAlreadyExistsException(s"$path already exists")
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          } finally Files.deleteIfExists(tmp)
        }
      }
      override def cancel(): Unit = synchronized {
        if (!done) {
          done = true
          try underlyingStream.close() finally Files.deleteIfExists(tmp)
        }
      }
    }
  }

  override def open(path: Path): FSDataInputStream = {
    val ch = notFound(path)(FileChannel.open(local(path)))
    new FSDataInputStream(new BufferedFSInputStream(new ChannelInput(ch),
      BufferBytes))
  }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = {
    val dir = local(path)
    notFound(path) {
      if (!Files.isDirectory(dir)) Array(status(path, dir))
      else {
        val entries = Files.list(dir)
        try entries.toArray.map { e =>
          val child = e.asInstanceOf[java.nio.file.Path]
          status(new Path(path, child.getFileName.toString), child)
        } finally entries.close()
      }
    }.filter(s => filter.accept(s.getPath))
  }

  override def mkdirs(path: Path): Unit = Files.createDirectories(local(path))

  override def exists(path: Path): Boolean = Files.exists(local(path))

  /** Recursive; a missing path is not an error. */
  override def delete(path: Path): Unit = {
    val p = local(path)
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.forEach(c => delete(new Path(path, c.getFileName.toString)))
      finally children.close()
    }
    Files.deleteIfExists(p)
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    val dir = Files.createDirectories(local(root)).toAbsolutePath
    new Path("file", null, dir.toString)
  }
}

private[graft] object LocalCheckpointFileManager {
  private val BufferBytes = 64 * 1024
  /** What Hadoop's local file system reports as its block size. */
  private val BlockBytes = 32L * 1024 * 1024

  /** The local file behind `path`, which must carry no scheme or `file:`. */
  private def local(path: Path): java.nio.file.Path = {
    val uri = path.toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"LocalCheckpointFileManager: $path is not a local path")
    Paths.get(uri.getPath)
  }

  /** `body`, with a missing file reported as Hadoop reports it. */
  private def notFound[T](path: Path)(body: => T): T =
    try body catch {
      case _: NoSuchFileException => throw new FileNotFoundException(s"$path")
    }

  private def status(path: Path, file: java.nio.file.Path): FileStatus = {
    val a = Files.readAttributes(file, classOf[BasicFileAttributes])
    new FileStatus(a.size, a.isDirectory, 1, BlockBytes,
      a.lastModifiedTime.toMillis, path)
  }

  /** A seekable input stream over one open channel. */
  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def close(): Unit = ch.close()
  }
}
