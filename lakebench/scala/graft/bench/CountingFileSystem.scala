package graft.bench

import java.io.{FilterOutputStream, OutputStream}

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream,
  FileAlreadyExistsException, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local Hadoop filesystem with per-op call and byte counts, installed
  * as `fs.file.impl` in the traced run only.
  *
  * Counts go to the op that made the call (see [[Trace.currentOp]]).
  * Driver-side calls also become `fs.<call>` spans, so time spent in
  * storage shows as its own layer; calls made inside Spark tasks are
  * already covered by the task's job span and are only counted.
  *
  * graft publishes local commits with link(2) rather than through
  * `create`, so a failed put-if-absent is not visible as a failed create
  * here. Every commit attempt does begin with `mkdirs(_delta_log)`, which
  * is counted as `log_mkdirs`; attempts minus commits landed is the
  * number of put-if-absent creates that failed. A `create` with
  * overwrite=false that does fail (other schemes) is counted directly. */
class CountingFileSystem extends LocalFileSystem {

  private def traced[A](call: String)(f: => A): A = {
    if (!Trace.enabled || Trace.currentOp == null) return f
    Trace.count(s"fs.${call}_calls")
    if (Trace.onDriver) Trace.span(s"fs.$call")(f) else f
  }

  override def listStatus(p: Path): Array[FileStatus] =
    traced("list")(super.listStatus(p))

  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    traced("open") {
      val inner = super.open(p, bufferSize)
      val op = Trace.currentOp
      if (op == null) inner
      else new FSDataInputStream(new CountingInputStream(inner, op))
    }

  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    traced("create") {
      val inner =
        try super.create(p, permission, overwrite, bufferSize, replication,
          blockSize, progress)
        catch {
          case e: FileAlreadyExistsException if !overwrite =>
            Trace.count("fs.put_if_absent_failed")
            throw e
        }
      val op = Trace.currentOp
      if (op == null) inner
      else new FSDataOutputStream(new CountingOutputStream(inner, op), null)
    }

  override def rename(src: Path, dst: Path): Boolean =
    traced("rename")(super.rename(src, dst))

  override def delete(p: Path, recursive: Boolean): Boolean =
    traced("delete")(super.delete(p, recursive))

  // both overloads: the filter filesystem sends each straight to the
  // wrapped one, so neither reaches the other
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    traced("mkdirs") {
      if (p.getName == "_delta_log") Trace.count("log_mkdirs")
      super.mkdirs(p, permission)
    }

  override def mkdirs(p: Path): Boolean =
    traced("mkdirs") {
      if (p.getName == "_delta_log") Trace.count("log_mkdirs")
      super.mkdirs(p)
    }
}

/** Byte-counting view of an input stream, charged to one op. */
private final class CountingInputStream(in: FSDataInputStream, op: String)
    extends FSInputStream {
  private def add(n: Int): Int = {
    if (n > 0) Trace.countFor(op, "fs.bytes_read", n)
    n
  }
  override def read(): Int = {
    val b = in.read()
    if (b >= 0) Trace.countFor(op, "fs.bytes_read", 1)
    b
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int =
    add(in.read(b, off, len))
  override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int =
    add(in.read(position, b, off, len))
  override def readFully(position: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(position, b, off, len)
    add(len)
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def skip(n: Long): Long = in.skip(n)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

/** Byte-counting view of an output stream, charged to one op. */
private final class CountingOutputStream(out: OutputStream, op: String)
    extends FilterOutputStream(out) {
  override def write(b: Int): Unit = {
    out.write(b)
    Trace.countFor(op, "fs.bytes_written", 1)
  }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len)
    Trace.countFor(op, "fs.bytes_written", len)
  }
}
