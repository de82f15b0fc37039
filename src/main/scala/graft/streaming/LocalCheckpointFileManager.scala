package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption, Path => JPath}
import java.util.UUID

/** The streaming checkpoint writer for local paths: offset, commit and
  * state files are written with java.nio as a temp file in the target's
  * own directory, then published by one atomic rename (overwrite) or one
  * hard link (no overwrite — `link(2)` fails if the target exists, so two
  * queries racing on a checkpoint still see Hadoop's
  * `FileAlreadyExistsException`, which `HDFSMetadataLog` turns into its
  * concurrent-writer error).
  *
  * Why not Spark's default: without libhadoop, Hadoop's
  * `RawLocalFileSystem` forks a `chmod` and a `readlink` process for every
  * file it creates and renames, ~40-50 ms per log file, twice per
  * micro-batch (offset log + commit log) — most of a live CDC trigger.
  * Here a publish is a handful of syscalls.
  *
  * Temp names are `.<name>.<uuid>.tmp`: not a batch id, so
  * `HDFSMetadataLog`'s batch-file filter skips a leftover from a crash.
  * Reads, listings, deletes and every non-`file:` path (HDFS, object
  * stores, test file systems) go to Spark's
  * `FileContextBasedCheckpointFileManager` unchanged.
  *
  * `GraftSession.builder()` installs it as
  * `spark.sql.streaming.checkpointFileManagerClass`. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = {
    val uri = fc.makeQualified(p).toUri
    if (uri.getScheme != "file") super.createAtomic(p, overwriteIfPossible)
    else {
      val target = Paths.get(uri)
      new LocalCheckpointFileManager.AtomicStream(target,
        target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp"),
        overwriteIfPossible)
    }
  }
}

object LocalCheckpointFileManager {

  private def open(tmp: JPath): OutputStream = {
    Files.createDirectories(tmp.getParent)
    new BufferedOutputStream(
      Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
  }

  private final class AtomicStream(target: JPath, tmp: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(open(tmp)) {

    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite) Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          else
            try Files.createLink(target, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        catch { case _: java.io.IOException => () }
        finally Files.deleteIfExists(tmp)
      }
    }
  }
}
