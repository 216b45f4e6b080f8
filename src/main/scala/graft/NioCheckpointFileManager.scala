package graft

import java.io.{EOFException, FileNotFoundException, InputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, StandardCopyOption, StandardOpenOption, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, PathFilter, PositionedReadable, Seekable}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint I/O via java.nio instead of the Hadoop local
  * FS stack (guide §5.4 driver fixed costs / §6 I/O path).
  *
  * Why: this sandbox has no libhadoop (NativeIO.isAvailable=false), so
  * every metadata-log write through the default FileContext-based
  * manager pays permission fallbacks in the Hadoop local FS — measured
  * ~45 ms per createAtomic on tmpfs vs ~0.15 ms for the identical
  * write-rename via java.nio (tools/probe_r21s3_engine_floor.txt). A
  * micro-batch commits 3-4 such writes (offset WAL, file-source log,
  * commit log, plus one per state-store partition), giving every
  * foreachBatch trigger a ~0.2 s floor with a completely empty body.
  * The checkpoint contract is unchanged: same files, same atomic
  * write-to-temp-then-rename protocol (reusing Spark's own
  * RenameBasedFSDataOutputStream), same crash semantics on a POSIX
  * rename. Registered for every session by [[GraftSession]] via
  * spark.sql.streaming.checkpointFileManagerClass, so it sees every
  * checkpoint, durable ones included. It serves local paths only: a
  * root or path with any scheme other than `file` (hdfs://, s3a://, …)
  * fails fast instead of being written to a local path of the same name
  * — such a deployment sets the conf back to Spark's stock manager.
  *
  * Instantiated reflectively by CheckpointFileManager.create with
  * (Path, Configuration) — both parameters required by that contract.
  */
class NioCheckpointFileManager(root: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  toNio(root) // a non-local root fails at construction

  private def toNio(p: Path): JPath = {
    val uri = p.toUri
    val scheme = uri.getScheme
    if (scheme != null && scheme != "file")
      throw new IllegalArgumentException(
        s"graft.NioCheckpointFileManager writes local files only; $p has " +
          s"scheme '$scheme' and would be written to a local path of the " +
          "same name — set spark.sql.streaming.checkpointFileManagerClass " +
          "to Spark's stock manager for non-local checkpoints")
    val raw = uri.getPath
    java.nio.file.Paths.get(if (raw == null || raw.isEmpty) p.toString else raw)
  }

  private def qualify(p: Path): Path =
    p.makeQualified(java.net.URI.create("file:///"), new Path("/"))

  // RenameHelperMethods/RenameBasedFSDataOutputStream are sealed inside
  // Spark, so this mirrors their write-temp-then-rename-on-close protocol
  // (same temp-name shape, same cancel-deletes-temp, close-after-cancel
  // is a no-op) on top of java.nio.
  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val dst = toNio(path)
    val parent = dst.getParent
    if (parent != null) Files.createDirectories(parent)
    val tmp = parent.resolve(
      s".${dst.getFileName}.${java.util.UUID.randomUUID}.tmp")
    val out = Files.newOutputStream(tmp, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
    new NioCheckpointFileManager.RenameOnCloseStream(
      new java.io.BufferedOutputStream(out, 32 * 1024), tmp, dst,
      overwriteIfPossible, renameTempFile)
  }

  private def renameTempFile(src: JPath, dst: JPath,
      overwriteIfPossible: Boolean): Unit = {
    // POSIX rename(2) silently replaces dst, so the no-overwrite
    // contract (HDFSMetadataLog: first writer of a batch file wins)
    // needs an explicit existence check — same check-then-act the
    // stock FileSystem-based manager performs after a failed rename.
    if (!overwriteIfPossible && Files.exists(dst))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(
        s"Failed to rename $src to $dst as destination already exists")
    try Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"Failed to rename $src to $dst as destination already exists")
      case e: NoSuchFileException =>
        throw new FileNotFoundException(e.getMessage)
    }
  }

  override def open(path: Path): FSDataInputStream = {
    val ch =
      try FileChannel.open(toNio(path), StandardOpenOption.READ)
      catch { case e: NoSuchFileException =>
        throw new FileNotFoundException(e.getMessage) }
    new FSDataInputStream(new NioCheckpointFileManager.SeekableChannelStream(ch))
  }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = {
    val p = toNio(path)
    if (!Files.exists(p)) throw new FileNotFoundException(p.toString)
    val qp = qualify(path)
    def status(f: JPath, hp: Path): FileStatus = {
      val dir = Files.isDirectory(f)
      new FileStatus(if (dir) 0L else Files.size(f), dir, 1, 32 * 1024 * 1024,
        Files.getLastModifiedTime(f).toMillis, hp)
    }
    if (!Files.isDirectory(p)) {
      if (filter.accept(qp)) Array(status(p, qp)) else Array.empty
    } else {
      val s = Files.list(p)
      try {
        val out = Array.newBuilder[FileStatus]
        s.forEach { f =>
          val hp = new Path(qp, f.getFileName.toString)
          if (filter.accept(hp)) out += status(f, hp)
        }
        out.result()
      } finally s.close()
    }
  }

  override def mkdirs(path: Path): Unit = {
    Files.createDirectories(toNio(path)); ()
  }

  override def exists(path: Path): Boolean = Files.exists(toNio(path))

  override def delete(path: Path): Unit = {
    val p = toNio(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    Files.createDirectories(toNio(root))
    qualify(root)
  }
}

object NioCheckpointFileManager {
  /** Write-temp-then-rename-on-close stream: close() commits the write
    * by atomic rename (propagating FileAlreadyExistsException to the
    * metadata-log first-writer-wins handling), cancel() discards the
    * temp file; both are idempotent and each disarms the other. */
  private final class RenameOnCloseStream(
      out: java.io.OutputStream, tmp: JPath, dst: JPath,
      overwriteIfPossible: Boolean,
      rename: (JPath, JPath, Boolean) => Unit)
      extends CancellableFSDataOutputStream(out) {
    private var terminated = false
    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        super.close()
        rename(tmp, dst, overwriteIfPossible)
      }
    }
    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try super.close() catch { case _: java.io.IOException => () }
        try { Files.deleteIfExists(tmp); () }
        catch { case _: java.io.IOException => () }
      }
    }
  }

  /** FileChannel-backed stream satisfying FSDataInputStream's required
    * Seekable + PositionedReadable interfaces. */
  private final class SeekableChannelStream(ch: FileChannel)
      extends InputStream with Seekable with PositionedReadable {
    override def read(): Int = {
      val b = ByteBuffer.allocate(1)
      if (ch.read(b) == -1) -1 else b.get(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def seek(pos: Long): Unit = { ch.position(pos); () }
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Int =
      if (length == 0) 0
      else ch.read(ByteBuffer.wrap(buffer, offset, length), position)
    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Unit = {
      var pos = position; var off = offset; var len = length
      while (len > 0) {
        val n = ch.read(ByteBuffer.wrap(buffer, off, len), pos)
        if (n < 0) throw new EOFException(
          s"EOF at $pos reading $len bytes from channel of size ${ch.size()}")
        pos += n; off += n; len -= n
      }
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
    override def available(): Int = {
      val r = ch.size() - ch.position()
      if (r > Int.MaxValue) Int.MaxValue else math.max(0L, r).toInt
    }
    override def close(): Unit = ch.close()
  }
}
