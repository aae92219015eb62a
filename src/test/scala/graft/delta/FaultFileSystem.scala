package graft.delta

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream,
  FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local filesystem under its own scheme (`faultfs:///<abs path>`),
  * able to fail one chosen call: arm it with the call name and a
  * predicate over the target path, and the next matching `create` or
  * `rename` throws an IOException instead of touching storage. A fault
  * fires once, so a retry runs against healthy storage. It also records
  * the files it opens ([[FaultFileSystem.opened]]).
  *
  * Not being the `file` scheme, it also routes put-if-absent through
  * the filesystem's create-no-overwrite rather than a local hard link. */
class FaultFileSystem extends RawLocalFileSystem {
  // a def, not a val: the parent constructor qualifies its working
  // directory through getUri before this class's fields exist
  override def getUri: URI = URI.create(s"${FaultFileSystem.Scheme}:///")
  override def getScheme: String = FaultFileSystem.Scheme

  // the parent's statuses load permissions lazily through java.io.File,
  // which accepts only `file:` URIs; plain statuses carry the defaults
  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getPath)
  override def getFileStatus(f: Path): FileStatus =
    plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(plain)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultFileSystem.check("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultFileSystem.check("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FaultFileSystem.opens.add(f)
    super.open(f, bufferSize)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFileSystem.check("rename", dst)
    super.rename(src, dst)
  }
}

object FaultFileSystem {
  final val Scheme = "faultfs"

  private val armed = new AtomicReference[(String, Path => Boolean)]()

  /** Route `faultfs://` paths of every session to this filesystem. */
  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[FaultFileSystem].getName)

  /** `faultfs:` form of a local absolute path. */
  def pathOf(local: String): String = s"$Scheme://$local"

  /** Fail the next `call` ("create" or "rename") whose target matches. */
  def failNext(call: String)(target: Path => Boolean): Unit =
    armed.set((call, target))

  /** True while an armed fault has not fired yet. */
  def pending: Boolean = armed.get() != null

  def disarm(): Unit = armed.set(null)

  private val opens = new ConcurrentLinkedQueue[Path]

  /** The files `body` opened through this filesystem, in order. */
  def opened(body: => Any): Seq[Path] = {
    opens.clear()
    body
    opens.asScala.toSeq
  }

  private def check(call: String, target: Path): Unit = {
    val a = armed.get()
    if (a != null && a._1 == call && a._2(target) && armed.compareAndSet(a, null))
      throw new IOException(s"injected $call failure: $target")
  }
}
