package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.file.{FileSystemException, Files, StandardCopyOption, FileAlreadyExistsException => NioFileAlreadyExistsException}
import java.util.UUID

/** Checkpoint file manager for `file`-scheme checkpoints (offset WAL,
  * commit log, source and state-store files): atomic writes go straight
  * through java.nio instead of Hadoop's local file system.
  *
  * Why: without libhadoop, Hadoop's local file system starts `chmod` and
  * `readlink` helper processes for every atomic create + rename — 10
  * processes and ~38 ms per checkpoint file on a 4-vCPU VM, which made
  * the two per-batch log writes the largest fixed cost of a connector
  * micro-batch. `createAtomic` here is:
  *
  *  1. write a dot-prefixed temp file in the target's directory (the
  *     metadata logs' listings skip it);
  *  2. `fsync` it;
  *  3. publish it — without overwrite by `Files.createLink`, which fails
  *     atomically when the target exists and then raises Hadoop's
  *     [[FileAlreadyExistsException]] (how `HDFSMetadataLog` detects a
  *     second writer); with overwrite by an atomic rename;
  *  4. delete a stale `.<name>.crc` sibling, so a read through Hadoop's
  *     `ChecksumFs` never checks the new bytes against an old checksum.
  *
  * Everything else — reads, listings, deletes, and every path whose
  * scheme is not `file` — goes to the manager Spark builds when
  * `spark.sql.streaming.checkpointFileManagerClass` is unset, and so does
  * a write on a file system without hard links.
  */
class LocalCheckpointFileManager(root: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val default: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(LocalCheckpointFileManager.ConfKey)
    CheckpointFileManager.create(root, conf)
  }

  private def isLocalFile(path: Path): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file"

  override def createAtomic(path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!isLocalFile(path)) default.createAtomic(path, overwriteIfPossible)
    else {
      val target = new File(path.toUri.getPath)
      Files.createDirectories(target.getParentFile.toPath)
      val temp = new File(target.getParentFile, s".${target.getName}.${UUID.randomUUID}.tmp")
      new LocalAtomicStream(path, target, temp, new FileOutputStream(temp), overwriteIfPossible)
    }

  override def open(path: Path): FSDataInputStream = default.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] = default.list(path, filter)
  override def mkdirs(path: Path): Unit = default.mkdirs(path)
  override def exists(path: Path): Boolean = default.exists(path)
  override def delete(path: Path): Unit = default.delete(path)
  override def isLocal: Boolean = default.isLocal
  override def createCheckpointDirectory(): Path = default.createCheckpointDirectory()
  override def close(): Unit = default.close()

  private class LocalAtomicStream(path: Path, target: File, temp: File,
                                  file: FileOutputStream, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(file)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.flush()
          file.getFD.sync()
          underlyingStream.close()
          publish()
        } finally Files.deleteIfExists(temp.toPath)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        finally Files.deleteIfExists(temp.toPath)
      }
    }

    private def publish(): Unit = {
      val published =
        if (overwrite) {
          Files.move(temp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
          true
        } else link()
      if (published)
        Files.deleteIfExists(new File(target.getParentFile, s".${target.getName}.crc").toPath)
      else {
        // no hard links on this file system: Spark's own writer keeps
        // the no-overwrite contract
        val out = default.createAtomic(path, overwriteIfPossible = false)
        try { out.write(Files.readAllBytes(temp.toPath)); out.close() }
        catch { case e: Throwable => out.cancel(); throw e }
      }
    }

    /** Hard-link the target to the temp file; false when the file system
      * has no hard links.
      */
    private def link(): Boolean =
      try { Files.createLink(target.toPath, temp.toPath); true } catch {
        case _: NioFileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$path already exists")
        case _: UnsupportedOperationException | _: FileSystemException => false
      }
  }
}

object LocalCheckpointFileManager {
  /** Spark's conf naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make `spark`'s streaming queries write checkpoints through this
    * manager, unless the session already names a manager.
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
}
