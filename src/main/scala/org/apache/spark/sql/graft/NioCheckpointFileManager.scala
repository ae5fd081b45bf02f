package org.apache.spark.sql.graft

import java.nio.file.{Files, Paths, StandardCopyOption, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A `CheckpointFileManager` for LOCAL (file-scheme) checkpoint dirs that
  * talks to `java.nio` directly instead of going through Hadoop's
  * `FileContext` (this package because the interface is `private[sql]` —
  * the StateHooks precedent; everything here implements documented
  * public behavior of the extension point
  * `spark.sql.streaming.checkpointFileManagerClass`).
  *
  * WHY (round 11): every offset-log, commit-log and state-store-delta
  * write goes through `createAtomic` (write temp → rename), and the
  * default FileContext-based manager costs **~45 ms per write** on a
  * local path — measured at 46.6 ms/write on tmpfs
  * and 43.3 ms on disk, versus 0.08 ms for the identical bytes via
  * plain nio write+ATOMIC_MOVE. The overhead is pure abstraction (it is
  * identical on tmpfs, so it is not IO). A graded streaming query pays
  * 4 WAL writes + 2×stores delta writes per run — the stream-stream
  * joins hold 4 stores per partition × 2 partitions, i.e. ~20 manager
  * writes ≈ 0.9 s of scaffold per execution, which matched the probed
  * `commitTimeMs≈235` per batch. This manager brings each write to
  * microseconds with the same atomic-rename contract.
  *
  * Semantics preserved:
  *  - `createAtomic(overwriteIfPossible = false)` fails on an existing
  *    target with Hadoop's `FileAlreadyExistsException` (what
  *    HDFSMetadataLog's first-writer-wins protocol catches); nio's
  *    exception of the same name is translated.
  *  - renames are `ATOMIC_MOVE` on the same filesystem — the same
  *    atomicity the FileContext manager provides for local paths.
  *  - `cancel()` drops the temp file without touching the target.
  *
  * Scope: engine code enables this ONLY for the per-run ephemeral
  * replay checkpoints (see `QueriesR6a.streamScaffoldConfs`, opt-out
  * `spark.graft.fastLocalCheckpoints=false`). Durable checkpoints on
  * shared storage (hdfs/s3) must keep the default manager — this class
  * refuses non-local schemes at construction so a mis-set conf fails
  * fast instead of corrupting a remote checkpoint.
  */
class NioCheckpointFileManager(root: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  {
    val scheme = root.toUri.getScheme
    require(scheme == null || scheme == "file",
      s"NioCheckpointFileManager only supports local paths, got: $root")
  }

  private def nio(p: Path): NioPath = Paths.get(p.toUri.getPath)

  private def toStatus(p: NioPath): FileStatus = {
    val attrs = Files.readAttributes(p, classOf[BasicFileAttributes])
    new FileStatus(attrs.size(), attrs.isDirectory, 1, 33554432L,
      attrs.lastModifiedTime().toMillis,
      new Path("file://" + p.toAbsolutePath.toString))
  }

  override def createAtomic(path: Path,
                            overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = nio(path)
    Option(target.getParent).foreach(Files.createDirectories(_))
    val tmp = target.resolveSibling("." + target.getFileName + ".tmp." +
      java.util.UUID.randomUUID().toString.take(8))
    val out = Files.newOutputStream(tmp)
    new CancellableFSDataOutputStream(out) {
      private var done = false
      override def close(): Unit = synchronized {
        if (!done) {
          done = true
          out.close()
          try {
            if (overwriteIfPossible)
              Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
                StandardCopyOption.REPLACE_EXISTING)
            else {
              // NOT Files.move(ATOMIC_MOVE): POSIX rename(2) silently
              // REPLACES an existing target, which would let a losing
              // writer overwrite a committed log entry. link(2) is the
              // atomic fail-if-exists primitive — create the target as a
              // hard link of the temp (EEXIST → FileAlreadyExists), then
              // drop the temp name. (Caught by NioCheckpointManagerSpec's
              // first-writer-wins test.)
              // Filesystems without hard links (FUSE/overlay/FAT mounts)
              // throw Unsupported/FileSystemException here; degrade to
              // exists-check + plain ATOMIC_MOVE. The check-then-move has
              // a lost-writer window two concurrent writers could race
              // through, but only on link-less filesystems — the linking
              // path keeps the true atomic fail-if-exists guarantee.
              try {
                Files.createLink(target, tmp)
                Files.deleteIfExists(tmp)
              } catch {
                case e @ (_: UnsupportedOperationException |
                          _: java.nio.file.FileSystemException)
                    if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
                  if (Files.exists(target)) {
                    Files.deleteIfExists(tmp)
                    throw new java.nio.file.FileAlreadyExistsException(
                      target.toString)
                  }
                  // a filesystem lacking BOTH hard links and atomic move
                  // (some FUSE/SMB mounts) still gets a rename rather
                  // than an outright failure (ADVICE r12) — the plain
                  // move widens the already-documented lost-writer
                  // window on this degraded tier, nothing more
                  try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
                  catch {
                    case _: java.nio.file.AtomicMoveNotSupportedException =>
                      Files.move(tmp, target)
                  }
              }
            }
          } catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(tmp)
              // the exception type HDFSMetadataLog's first-writer-wins add() expects
              throw new org.apache.hadoop.fs.FileAlreadyExistsException(target.toString)
          }
        }
      }
      override def cancel(): Unit = synchronized {
        if (!done) {
          done = true
          out.close()
          Files.deleteIfExists(tmp): Unit
        }
      }
    }
  }

  override def open(path: Path): FSDataInputStream = {
    val bytes = Files.readAllBytes(nio(path))
    val buf = new org.apache.hadoop.fs.FSDataInputStream(
      new SeekableByteArrayInputStream(bytes))
    buf
  }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = {
    val p = nio(path)
    if (!Files.exists(p)) throw new java.io.FileNotFoundException(p.toString)
    if (!Files.isDirectory(p)) {
      val st = toStatus(p)
      return if (filter.accept(st.getPath)) Array(st) else Array.empty
    }
    val out = Array.newBuilder[FileStatus]
    val stream = Files.newDirectoryStream(p)
    try {
      stream.forEach { child =>
        val st = toStatus(child)
        if (filter.accept(st.getPath)) out += st
      }
    } finally stream.close()
    out.result()
  }

  override def mkdirs(path: Path): Unit =
    Files.createDirectories(nio(path)): Unit

  override def exists(path: Path): Boolean = Files.exists(nio(path))

  override def delete(path: Path): Unit = {
    val p = nio(path)
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        import java.util.Comparator
        // walk() returns a Stream holding directory handles open until
        // closed — leaking one per recursive checkpoint delete exhausts
        // file descriptors over a long multi-query session
        val walk = Files.walk(p)
        try walk.sorted(Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      } else Files.deleteIfExists(p): Unit
    }
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    Files.createDirectories(nio(root))
    root
  }
}

/** In-memory seekable stream for `open` — checkpoint log files are small
  * (offset/commit JSON, state metadata), so a full read is cheaper than
  * a positional-read file channel ceremony.
  */
private[graft] class SeekableByteArrayInputStream(bytes: Array[Byte])
    extends java.io.ByteArrayInputStream(bytes)
    with org.apache.hadoop.fs.Seekable
    with org.apache.hadoop.fs.PositionedReadable {

  override def seek(pos: Long): Unit = {
    if (pos < 0 || pos > bytes.length)
      throw new java.io.EOFException(s"seek $pos out of [0, ${bytes.length}]")
    this.pos = pos.toInt
  }
  override def getPos: Long = pos.toLong
  override def seekToNewSource(targetPos: Long): Boolean = false

  override def read(position: Long, buffer: Array[Byte], offset: Int,
                    length: Int): Int = {
    if (position >= bytes.length) return -1
    val n = math.min(length, bytes.length - position.toInt)
    System.arraycopy(bytes, position.toInt, buffer, offset, n)
    n
  }
  override def readFully(position: Long, buffer: Array[Byte], offset: Int,
                         length: Int): Unit = {
    if (read(position, buffer, offset, length) < length)
      throw new java.io.EOFException()
  }
  override def readFully(position: Long, buffer: Array[Byte]): Unit =
    readFully(position, buffer, 0, buffer.length)
}
