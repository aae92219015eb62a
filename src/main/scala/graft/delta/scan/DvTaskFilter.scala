package graft.delta.scan

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import graft.delta.log.Actions.DeletionVectorDescriptor

/** Executor-side deletion-vector decoding for the large-DV scan path.
  *
  * The driver ships only DESCRIPTORS (path/offset/size — bytes per
  * file, not bitmaps); each task lazily loads and decodes the DVs of
  * exactly the files it reads, through a per-JVM cache bounded by
  * decoded-bytes budget. This bounds driver memory by O(files) instead
  * of O(sum of bitmap bytes): a scan touching thousands of heavy-DV
  * files never concentrates their bitmaps in driver heap — the same
  * executor-side placement production Delta readers use. Inline ("i")
  * DVs decode from the descriptor itself and never touch storage.
  */
object DvTaskFilter {

  /** Hadoop Configuration is not Java-serializable; standard
    * Writable-based wrapper so task closures can carry it. */
  final class SerHadoopConf(@transient var conf: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new Configuration(false)
      conf.readFields(in)
    }
  }

  /** Per-JVM decoded-bitmap cache, bounded by total APPROXIMATE decoded
    * bytes (the serialized DV size is the right order for roaring).
    * Tasks for the same file share one decode per executor; eviction
    * keeps a long-running executor's footprint bounded no matter how
    * many heavy-DV files its lifetime touches. Reads are lock-free
    * (ConcurrentHashMap; computeIfAbsent locks only the loading key);
    * eviction is the rare path and synchronizes separately. */
  private val DefaultBudgetBytes = 256L * 1024 * 1024
  private val cacheBudget =
    new java.util.concurrent.atomic.AtomicLong(DefaultBudgetBytes)
  private[graft] def setBudgetForTest(b: Long): Unit = cacheBudget.set(b)
  private val cacheBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val cache = new java.util.concurrent.ConcurrentHashMap[
      String, (DvBitmap.Bitmap, Long)]()
  private val evictLock = new Object
  /** Test observability: decodes performed by this JVM. */
  private[graft] val decodeCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def cached(key: String, sizeHint: Long)(
      load: => DvBitmap.Bitmap): DvBitmap.Bitmap = {
    val hit = cache.get(key)
    if (hit != null) return hit._1
    val entry = cache.computeIfAbsent(key, { _ =>
      val bm = load
      decodeCount.incrementAndGet()
      cacheBytes.addAndGet(sizeHint)
      (bm, sizeHint)
    })
    // evict OTHER entries while over budget (always keep the one just
    // resolved — the caller is actively reading its file)
    if (cacheBytes.get() > cacheBudget.get()) evictLock.synchronized {
      val it = cache.entrySet().iterator()
      while (cacheBytes.get() > cacheBudget.get() && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) {
          it.remove()
          cacheBytes.addAndGet(-e.getValue._2)
        }
      }
    }
    entry._1
  }

  /** Resolve one file's decoded bitmap through the per-JVM cache —
    * None when the file carries no DV. The codegen'd [[DvKeep]]
    * expression memos the answer per file boundary, so this runs once
    * per file per task, not per row. */
  def bitmapFor(tableUri: String,
      descriptors: Map[String, DeletionVectorDescriptor],
      conf: SerHadoopConf, fkey: String): Option[DvBitmap.Bitmap] =
    descriptors.get(fkey).map { d =>
      cached(s"$tableUri#${d.uniqueId}",
        math.max(d.sizeInBytes.toLong, 64L)) {
        val table = new Path(new java.net.URI(tableUri))
        // "i" inline decodes from the descriptor; fs is only
        // dereferenced for on-disk storage types
        val fs = table.getFileSystem(conf.conf)
        DvBitmap.load(fs, table, d)
      }
    }
}
