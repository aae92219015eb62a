package graft.catalog

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.delta.{DeltaTable, Snapshot}

/** Auto-refreshing Delta table registry.
  *
  * Mirrors the reference's DeltaLakeSchemaProvider: `table(name)`
  * re-resolves the snapshot on every lookup and swaps the provider when
  * a newer version exists (reference: crates/datafusion/src/
  * schema_provider.rs:83-118).
  *
  * `tables` belongs to the SparkSession, as the temp views it publishes.
  */
final class TableRegistry(spark: SparkSession, tables: TableRegistry.Names) {
  import TableRegistry.Entry

  /** Register a Delta table under `name` and expose it as a temp view. */
  def register(name: String, path: String): Snapshot = {
    val snap = DeltaTable.forPath(spark, path)
    tables.put(name, Entry(path, snap.version))
    snap.read.createOrReplaceTempView(name)
    snap
  }

  /** Lookup with refresh-on-access: if the log has moved past the cached
    * version, re-resolve and re-publish the temp view. */
  def table(name: String): DataFrame = snapshot(name).read

  def snapshot(name: String): Snapshot = {
    val entry = Option(tables.get(name)).getOrElse(
      throw new IllegalArgumentException(s"Unknown delta table: $name"))
    val latest = DeltaTable.forPath(spark, entry.path)
    if (latest.version > entry.version) {
      tables.put(name, Entry(entry.path, latest.version))
      latest.read.createOrReplaceTempView(name)
    }
    latest
  }

  def names: Seq[String] = {
    import scala.jdk.CollectionConverters._
    tables.keys.asScala.toSeq.sorted
  }

  def unregister(name: String): Unit = {
    tables.remove(name)
    spark.catalog.dropTempView(name)
  }
}

object TableRegistry {
  private[graft] final case class Entry(path: String, version: Long)
  private[graft] type Names = ConcurrentHashMap[String, Entry]
}
