package graft

import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The write contract [[LocalCheckpointFileManager]] owes Spark's
  * metadata logs: no-overwrite fails like Hadoop's (a second writer is
  * detected), overwrite replaces, cancel leaves nothing, temp files are
  * dot-prefixed, a stale checksum never shadows new bytes, and
  * any path that is not `file` goes to Spark's default manager.
  */
class CheckpointFileManagerSpec extends AnyFunSuite {

  private def dir(): File = Files.createTempDirectory("graft-cfm").toFile
  private def manager(root: File, conf: Configuration = new Configuration()) =
    new LocalCheckpointFileManager(new Path(root.toURI), conf)

  private def write(fm: CheckpointFileManager, p: Path, s: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(f: File): String = new String(Files.readAllBytes(f.toPath), UTF_8)

  test("no-overwrite createAtomic on an existing target raises Hadoop's FileAlreadyExistsException") {
    val root = dir()
    val fm = manager(root)
    val p = new Path(root.toURI.toString + "/0")
    write(fm, p, "first", overwrite = false)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    // HDFSMetadataLog.write catches exactly this type to report a
    // concurrent writer, then cancels the stream
    intercept[FileAlreadyExistsException](out.close())
    out.cancel()
    assert(read(new File(root, "0")) == "first")
    assert(root.list().toSet == Set("0"), "a failed publish must not leave its temp file")
  }

  test("overwrite replaces the target and drops a stale .crc, so ChecksumFs reads the new bytes") {
    val root = dir()
    val p = new Path(root.toURI.toString + "/state.delta")
    // Spark's default manager writes through ChecksumFs: target + .crc
    val default = new FileContextBasedCheckpointFileManager(new Path(root.toURI), new Configuration())
    write(default, p, "old bytes", overwrite = true)
    assert(new File(root, ".state.delta.crc").exists())
    val fm = manager(root)
    write(fm, p, "new, longer bytes", overwrite = true)
    assert(read(new File(root, "state.delta")) == "new, longer bytes")
    assert(!new File(root, ".state.delta.crc").exists())
    val in = default.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "new, longer bytes")
    finally in.close()
  }

  test("cancel() leaves neither a target nor a temp file") {
    val root = dir()
    val out = manager(root).createAtomic(new Path(root.toURI.toString + "/7"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(root.list().isEmpty)
  }

  test("the pending temp file is dot-prefixed, and only the target remains after close") {
    val root = dir()
    val fm = manager(root)
    val out = fm.createAtomic(new Path(root.toURI.toString + "/3"), overwriteIfPossible = false)
    out.write("x".getBytes(UTF_8))
    val pending = root.list().toSeq
    assert(pending.size == 1 && pending.head.startsWith("."), pending)
    out.close()
    assert(root.list().toSet == Set("3"))
  }

  test("a path whose scheme is not `file` goes to Spark's default manager") {
    val root = dir()
    val conf = new Configuration()
    conf.set("fs.graftlocal.impl", classOf[CheckpointFileManagerSpec.SchemeLocalFs].getName)
    conf.setBoolean("fs.graftlocal.impl.disable.cache", true)
    val other = new Path(s"graftlocal://${root.getAbsolutePath}")
    val fm = new LocalCheckpointFileManager(other, conf)
    CheckpointFileManagerSpec.renames.set(0)
    write(fm, new Path(other, "1"), "via hadoop", overwrite = false)
    assert(read(new File(root, "1")) == "via hadoop")
    assert(CheckpointFileManagerSpec.renames.get() == 1,
      "the default manager publishes through the file system's rename")
    // the local path still goes through java.nio: the file system is untouched
    write(fm, new Path(root.toURI.toString + "/2"), "via nio", overwrite = false)
    assert(CheckpointFileManagerSpec.renames.get() == 1)
    assert(read(new File(root, "2")) == "via nio")
  }
}

object CheckpointFileManagerSpec {
  val renames = new AtomicInteger()

  /** The local file system registered under another scheme, counting
    * the renames that publish a default-manager write.
    */
  class SchemeLocalFs extends RawLocalFileSystem {
    override def getUri: URI = URI.create("graftlocal:///")
    override def getScheme: String = "graftlocal"
    override def rename(src: Path, dst: Path): Boolean = {
      renames.incrementAndGet()
      super.rename(src, dst)
    }
  }
}
