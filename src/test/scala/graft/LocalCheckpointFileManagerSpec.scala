package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.scalatest.funsuite.AnyFunSuite

/** The contract Spark's metadata logs and state stores rely on, held by
  * the fork-free manager of graft's temp replay checkpoints. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  /** A manager over a fresh temp directory, deleted after `body`. */
  private def withManager(body: (LocalCheckpointFileManager, Path) => Unit): Unit = {
    val dir = Files.createTempDirectory("lcfm_spec")
    try {
      val root = new Path(dir.toUri)
      body(new LocalCheckpointFileManager(root, new Configuration()), root)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def write(fm: LocalCheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: LocalCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every name in `dir`, temp files included. */
  private def names(dir: Path): Set[String] =
    new java.io.File(dir.toUri).list().toSet

  test("a no-overwrite createAtomic over an existing file throws and keeps it") {
    withManager { (fm, root) =>
      val p = new Path(root, "offsets/0")
      write(fm, p, "first", overwrite = false)
      intercept[FileAlreadyExistsException](
        write(fm, p, "second", overwrite = false))
      assert(read(fm, p) == "first")
      assert(names(p.getParent) == Set("0"), "temp file left behind")
    }
  }

  test("cancel leaves neither the temp file nor the final file") {
    withManager { (fm, root) =>
      val p = new Path(root, "state/0/1.delta")
      val out = fm.createAtomic(p, overwriteIfPossible = true)
      out.write(Array[Byte](1, 2, 3))
      out.cancel()
      out.close()
      assert(!fm.exists(p))
      assert(names(p.getParent).isEmpty)
    }
  }

  test("an overwriting createAtomic replaces the file") {
    withManager { (fm, root) =>
      val p = new Path(root, "state/0/1.snapshot")
      write(fm, p, "old", overwrite = true)
      write(fm, p, "new", overwrite = true)
      assert(read(fm, p) == "new")
      assert(names(p.getParent) == Set("1.snapshot"))
    }
  }

  test("list honours its filter; open seeks; delete is recursive") {
    withManager { (fm, root) =>
      val dir = new Path(root, "commits")
      Seq("0", "1", ".2.tmp").foreach(n => write(fm, new Path(dir, n),
        s"batch $n", overwrite = false))
      val visible: PathFilter = p => !p.getName.startsWith(".")
      assert(fm.list(dir, visible).map(_.getPath.getName).sorted.toSeq ==
        Seq("0", "1"))
      assert(fm.list(dir).length == 3)
      val st = fm.list(dir, (p: Path) => p.getName == "1").head
      assert(!st.isDirectory && st.getLen == "batch 1".length)
      intercept[java.io.FileNotFoundException](
        fm.list(new Path(root, "missing"), visible))
      val in = fm.open(new Path(dir, "1"))
      try {
        in.seek(6)
        assert(in.read() == '1' && in.read() == -1 && in.getPos == 7)
      } finally in.close()
      fm.delete(dir)
      fm.delete(dir)
      assert(!fm.exists(dir) && fm.exists(root))
    }
  }
}
