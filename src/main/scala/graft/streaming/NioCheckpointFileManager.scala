package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, OutputStream}
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption,
  StandardOpenOption, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem,
  Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint files of a streaming query — offset, commit and
  * source logs, state-store delta and snapshot files — written with
  * `java.nio` instead of Hadoop's local file system. Without the native
  * Hadoop library, `RawLocalFileSystem` forks a `chmod` process for
  * every file it creates and a `readlink` for every rename, and a
  * micro-batch creates and renames several files per state partition.
  * Spark builds this class when `spark.sql.streaming.checkpointFileManagerClass`
  * names it (see `StreamingOps`).
  *
  * Paths served: `file:` paths, and scheme-less paths when the default
  * file system is `file:`. Any other scheme goes to Spark's
  * `FileContextBasedCheckpointFileManager`, built directly —
  * `CheckpointFileManager.create` would read the conf key and build this
  * class again.
  *
  * `createAtomic` writes Spark's temp file `.<name>.<uuid>.tmp` beside
  * the target and publishes it on `close`: with an atomic rename when
  * the caller allows overwriting (state-store files), otherwise with a
  * hard link, which is put-if-absent (the offset and commit logs, the
  * `GraftLedger.casWrite` primitive). A lost put-if-absent throws Hadoop's
  * `FileAlreadyExistsException`, the exception `HDFSMetadataLog` catches.
  * Like Hadoop's local file system, nothing is fsynced. `list` skips
  * temp files and Hadoop's `.<name>.crc` checksum files; `delete`
  * removes the latter with their file, so a checkpoint can move between
  * this manager and Spark's default one.
  */
class NioCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  import NioCheckpointFileManager._

  private val remote: Option[CheckpointFileManager] = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") None else Some(new FileContextBasedCheckpointFileManager(path, conf))
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    remote.fold[CancellableFSDataOutputStream] {
      val target = local(p)
      new AtomicStream(target,
        target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp"), overwriteIfPossible)
    }(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream =
    remote.fold(FileSystem.getLocal(conf).getRaw.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = remote.fold {
    val dir = local(p)
    try {
      val ds = Files.newDirectoryStream(dir)
      val qdir = qualified(dir)
      try ds.asScala.iterator.flatMap { f =>
        val name = f.getFileName.toString
        val hp = new Path(qdir, name)
        // A file deleted between the listing and its stat is skipped,
        // as Hadoop's local listing does.
        if (hidden(name) || !filter.accept(hp)) None
        else try Some(status(f, hp)) catch { case _: NoSuchFileException => None }
      }.toArray
      finally ds.close()
    } catch {
      case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist")
    }
  }(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    remote.fold[Unit](Files.createDirectories(local(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean = remote.fold(Files.exists(local(p)))(_.exists(p))

  override def delete(p: Path): Unit = remote.fold[Unit] {
    val f = local(p)
    deleteRecursively(f)
    Files.deleteIfExists(crcOf(f))
  }(_.delete(p))

  override def isLocal: Boolean = remote.forall(_.isLocal)

  override def createCheckpointDirectory(): Path = remote.fold {
    val dir = local(path)
    Files.createDirectories(dir)
    qualified(dir)
  }(_.createCheckpointDirectory())

  override def close(): Unit = remote.foreach(_.close())
}

object NioCheckpointFileManager {
  private def local(p: Path): JPath = Paths.get(p.toUri.getPath)

  private def qualified(f: JPath): Path = new Path("file", null, f.toAbsolutePath.toString)

  /** Hadoop's checksum file for `f`, written by its local file system. */
  private def crcOf(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")

  /** A temp file of an unfinished `createAtomic`, or a Hadoop checksum file. */
  private def hidden(name: String): Boolean =
    name.startsWith(".") && (name.endsWith(".tmp") || name.endsWith(".crc"))

  private def status(f: JPath, hp: Path): FileStatus = {
    val a = Files.readAttributes(f, classOf[BasicFileAttributes])
    new FileStatus(a.size, a.isDirectory, 1, 0L, a.lastModifiedTime.toMillis, hp)
  }

  /** Delete `f` and, if it is a directory, everything below it; a
    * missing `f` is not an error. Symbolic links are removed, not
    * followed.
    */
  private[graft] def deleteRecursively(f: JPath): Unit = {
    if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(f)
      try s.iterator.asScala.foreach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(f)
  }

  private def openTemp(temp: JPath): OutputStream = new BufferedOutputStream(
    Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 64 * 1024)

  /** A write to `temp`, published to `target` on `close` and discarded
    * on `cancel`. Either leaves no temp file behind.
    */
  private final class AtomicStream(target: JPath, temp: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(openTemp(temp)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) {
            // A checksum left by Hadoop's local file system would no
            // longer match the new bytes.
            Files.deleteIfExists(crcOf(target))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else
            try Files.createLink(target, temp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        // Callers cancel while handling another failure; a temp file
        // that cannot be removed is only litter, which `list` skips.
        try underlyingStream.close() catch { case NonFatal(_) => () }
        try Files.deleteIfExists(temp) catch { case NonFatal(_) => () }
      }
    }
  }
}
