package graft.streaming

import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import graft.runner.LocalFiles

/** Structured Streaming checkpoint files (offset log, commit log, state
  * store deltas and snapshots, their checksums) through `java.nio` for a
  * `file:` checkpoint. Spark's default manager goes through Hadoop's local
  * file system, which on a host without `libhadoop` forks `chmod` on every
  * create and `readlink` twice per rename: about 640 processes for one
  * six-trigger replay. Any other scheme is handed to Spark's
  * [[FileContextBasedCheckpointFileManager]].
  *
  * Spark instantiates it by reflection from
  * `spark.sql.streaming.checkpointFileManagerClass`, hence the public
  * `(Path, Configuration)` constructor. A file is written under a hidden
  * temp name in its target's directory and then published: without
  * overwrite by an atomic create-if-absent that fails with
  * `FileAlreadyExistsException` and keeps the existing file, as
  * `HDFSMetadataLog` requires; with overwrite by an atomic move.
  */
class LocalCheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  private val local = LocalFiles.rawLocal(path, conf)
  private lazy val delegate = new FileContextBasedCheckpointFileManager(path, conf)
  private def nio(p: Path) = local.get.pathToFile(p).toPath

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (local.isEmpty) delegate.createAtomic(p, overwriteIfPossible)
    else {
      val target = nio(p)
      val tmp = target.resolveSibling(s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
      new CancellableFSDataOutputStream(LocalFiles.create(tmp)) {
        private var done = false
        override def close(): Unit = synchronized {
          if (!done) {
            done = true
            try super.close() catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
            if (overwriteIfPossible)
              Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
            else if (!LocalFiles.publish(tmp, target))
              throw new FileAlreadyExistsException(s"$p already exists")
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

  override def open(p: Path): FSDataInputStream =
    if (local.isEmpty) delegate.open(p) else local.get.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    if (local.isEmpty) delegate.list(p, filter)
    else {
      val files = Option(nio(p).toFile.listFiles())
        .getOrElse(throw new java.io.FileNotFoundException(s"$p is not a directory"))
      files.map(f => (f, new Path(p, f.getName))).filter { case (_, q) => filter.accept(q) }
        .map { case (f, q) => new FileStatus(f.length, f.isDirectory, 1, 0L, f.lastModified, q) }
    }

  override def mkdirs(p: Path): Unit =
    if (local.isEmpty) delegate.mkdirs(p) else { Files.createDirectories(nio(p)); () }

  override def exists(p: Path): Boolean =
    if (local.isEmpty) delegate.exists(p) else Files.exists(nio(p))

  override def delete(p: Path): Unit =
    if (local.isEmpty) delegate.delete(p) else LocalFiles.deleteTree(nio(p).toFile)

  override def isLocal: Boolean = local.isDefined || delegate.isLocal

  override def createCheckpointDirectory(): Path =
    if (local.isEmpty) delegate.createCheckpointDirectory()
    else {
      val qualified = local.get.makeQualified(path)
      Files.createDirectories(nio(qualified))
      qualified
    }

  override def close(): Unit = if (local.isEmpty) delegate.close()
}
