package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, DoubleType, StructType}
import graft.delta.log.{Actions, LogSegment, Replay}
import graft.delta.scan.{DeltaScan, StatsSkipping}

/** An immutable view of a Delta table at one version.
  *
  * Mirrors the reference's `TableSnapshot` trait surface — logical
  * schema, version, protocol, metadata, scan entry point (reference:
  * crates/datafusion/src/table_provider/delta/table_format.rs:59-82).
  */
final case class Snapshot(
    spark: SparkSession,
    tablePath: Path,
    segment: LogSegment,
    metadata: Actions.Metadata,
    protocol: Actions.Protocol) {

  def version: Long = segment.version

  /** User-facing (logical) schema. */
  def schema: StructType = metadata.dataSchema

  def partitionColumns: Seq[String] = metadata.partitionColumns

  /** Reconciled live AddFile rows (distributed; nothing collected). */
  def allFiles: DataFrame = Replay.liveFiles(spark, segment)

  /** Full-table read through the composed scan over the unpruned live
    * list. Its file index appends each file's partition values, so
    * partition filters and dynamic partition pruning (this table on the
    * fact side of a star join) reach the file list, and it stats-skips
    * the data filters Spark pushes into the scan at plan time
    * ([[StatsSkipping.onScan]]). */
  def read: DataFrame =
    DeltaScan.build(this, Seq.empty, statsSkipping = StatsSkipping.onScan(this))

  /** Full-table read with the fresh row-tracking columns `_row_id` and
    * `_row_commit_version` appended (writer feature `rowTracking`). */
  def readWithRowIds: DataFrame = {
    require(graft.delta.log.RowTracking.enabled(metadata) ||
      protocol.writerFeatures.getOrElse(Nil).contains("rowTracking"),
      s"Table $tablePath does not track row ids — create it with " +
        "delta.enableRowTracking=true")
    DeltaScan.buildWithRowIds(this)
  }

  /** Read with pushed-down filters: partition pruning + stats-based file
    * skipping happen on the file list before any parquet is opened; the
    * same predicates are re-applied on the rows (the reference's
    * `Inexact` filter contract — table_provider/delta/mod.rs:83-88). */
  def readWhere(filters: Column*): DataFrame =
    DeltaScan.build(this, filters)

  /** Exact row count answered from log statistics alone — zero data
    * files opened: sum of per-file numRecords minus deletion-vector
    * cardinalities. `None` when any live file lacks numRecords (then
    * only a data scan can answer). At 100 TB this turns `count(*)` from
    * a full-table scan into a metadata aggregation over the (already
    * replayed) file list. */
  def statsRowCount: Option[Long] = sizeAndRows._2

  /** Total ON-DISK bytes of the live files plus the stats row count —
    * one metadata aggregation, memoized for the snapshot's life. Feeds
    * the composed scan's reported statistics: without them a DV /
    * column-mapped table has UNKNOWN size, so Catalyst never
    * auto-broadcasts it and a dim-sized table on the composed path
    * shuffles a 100 TB fact instead of broadcasting itself. */
  lazy val sizeAndRows: (Long, Option[Long]) = {
    import org.apache.spark.sql.functions._
    val a = allFiles.agg(
      coalesce(sum(col("size")), lit(0L)).as("bytes"),
      count(lit(1)).as("files"),
      count(get_json_object(col("stats"), "$.numRecords")).as("withStats"),
      sum(get_json_object(col("stats"), "$.numRecords").cast("long")),
      sum(coalesce(col("deletionVector.cardinality"), lit(0L))))
      .head
    val rows =
      if (a.getLong(1) == 0L) Some(0L)
      else if (a.getLong(2) == a.getLong(1))
        Some(a.getLong(3) - a.getLong(4))
      else None
    (a.getLong(0), rows)
  }

  /** Exact global (min, max) of a NUMERIC column from log stats alone —
    * min-of-file-mins / max-of-file-maxes, zero data files opened.
    * `None` when any live file lacks the stat (can't bound the gap) or
    * carries a deletion vector (a deleted row could have held the
    * extreme). Strings are deliberately not offered: long string stats
    * are truncated to conservative prefixes, exact only as bounds. */
  def statsNumericRange(colName: String): Option[(Double, Double)] =
    statsRange(colName, DoubleType).map {
      case (lo, hi) => (lo.asInstanceOf[Double], hi.asInstanceOf[Double])
    }

  /** The log-stats (min, max) of `colName`, each cast to `dataType` —
    * one metadata aggregation over the live files. `None` under the
    * same gates as [[statsNumericRange]]; the null checks also catch
    * stats that do not cast to `dataType` (a date/string min cast to a
    * number is null), which answer None, not a crash. */
  def statsRange(colName: String, dataType: DataType): Option[(Any, Any)] = {
    import org.apache.spark.sql.functions._
    val minJ = get_json_object(col("stats"), s"$$.minValues.$colName")
    val maxJ = get_json_object(col("stats"), s"$$.maxValues.$colName")
    val a = allFiles.agg(
      count(lit(1)), count(minJ), count(maxJ),
      min(minJ.cast(dataType)), max(maxJ.cast(dataType)),
      count(col("deletionVector"))).head()
    val files = a.getLong(0)
    if (files == 0 || a.getLong(1) != files || a.getLong(2) != files ||
      a.getLong(5) != 0 || a.isNullAt(3) || a.isNullAt(4)) None
    else Some((a.get(3), a.get(4)))
  }
}

object DeltaTable {

  /** Resolve a snapshot of the table at `path` (latest, or `versionAsOf`).
    * Spark analogue of the reference's `Snapshot::try_new` boot path
    * (crates/datafusion/src/session.rs:169-191). */
  def forPath(spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None): Snapshot = {
    val tablePath = new Path(path)
    val segment = LogSegment.forTable(spark, tablePath, versionAsOf)
    val (meta, proto) = Replay.metadataAndProtocol(spark, segment)
    graft.delta.log.ProtocolSupport.assertReadable(path, proto)
    Snapshot(spark, tablePath, segment, meta, proto)
  }

  /** Time travel by timestamp: the snapshot at [[versionAtTimestamp]]. */
  def forPathAtTimestamp(spark: SparkSession, path: String,
      timestampMillis: Long): Snapshot =
    forPath(spark, path, Some(versionAtTimestamp(spark, path, timestampMillis)))

  /** The newest version whose commit timestamp is at or before
    * `timestampMillis`, resolved against the latest snapshot's
    * metadata. */
  def versionAtTimestamp(spark: SparkSession, path: String,
      timestampMillis: Long): Long =
    versionAtTimestamp(forPath(spark, path), timestampMillis)

  /** [[versionAtTimestamp]] by the protocol's in-commit-timestamp
    * enablement rule, read from `latest`'s metadata, over one listing of
    * `_delta_log`:
    *  - versions below `delta.inCommitTimestampEnablementVersion` (every
    *    version, when in-commit timestamps are off) are stamped with
    *    their commit file's mtime, which the listing carries: no opens;
    *  - versions at or above it carry monotonic in-commit timestamps
    *    ([[LogSegment.commitTimestamp]]), so a binary search opens
    *    O(log n) commits. */
  private[delta] def versionAtTimestamp(latest: Snapshot,
      timestampMillis: Long): Long = {
    val fs = LogSegment.fs(latest.spark, latest.tablePath)
    val commits = fs.listStatus(latest.segment.logPath).toSeq
      .flatMap(st => LogSegment.commitVersion(st.getPath.getName)
        .filter(_ <= latest.version).map(_ -> st))
      .sortBy(_._1)
    val cfg = latest.metadata.configuration
    val ictFrom =
      if (!cfg.get("delta.enableInCommitTimestamps")
          .exists(_.equalsIgnoreCase("true"))) Long.MaxValue
      else cfg.get("delta.inCommitTimestampEnablementVersion")
        .flatMap(_.trim.toLongOption).getOrElse(0L)
    val (byMtime, byIct) = commits.partition(_._1 < ictFrom)
    val opened = scala.collection.mutable.Map.empty[Int, Long]
    def ict(i: Int): Long =
      opened.getOrElseUpdate(i, LogSegment.commitTimestamp(fs, byIct(i)._2))
    // the first ICT commit past the timestamp
    var lo = 0
    var hi = byIct.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ict(mid) <= timestampMillis) lo = mid + 1 else hi = mid
    }
    if (lo > 0) byIct(lo - 1)._1
    else byMtime.filter(_._2.getModificationTime <= timestampMillis)
      .lastOption.map(_._1).getOrElse {
        val earliest = byMtime.headOption.map(_._2.getModificationTime)
          .orElse(byIct.headOption.map(_ => ict(0)))
        throw new IllegalArgumentException(
          s"No table version at or before timestamp $timestampMillis " +
            s"(earliest commit: $earliest)")
      }
  }
}
