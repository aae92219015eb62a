package graft.delta.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{NoopCache, PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.delta.log.LogSegment
import graft.delta.scan.DeltaScan.ScanFile

/** The Delta log's file inventory as a Spark `FileIndex`, and the one
  * index every graftdelta read scans: the native DSv2 `ParquetScan` lists
  * it, [[graft.delta.scan.DeltaScan]] builds its parquet relation on it,
  * and a write's stats pass reads the part files it just staged through
  * it. It answers from the given entries (paths relative to `tablePath`,
  * or absolute) alone:
  *
  *  - `FileStatus`es are built from each entry's size and mtime, so
  *    planning lists nothing (at 100 TB, listing millions of objects is
  *    the scan-planning bottleneck). An entry without them (a remove's
  *    change-feed pre-image) costs one driver `getFileStatus`;
  *  - each file keeps its own partition values (the protocol ties them
  *    to the add, not to a directory); partition filters, DPP re-lists
  *    included, are evaluated once per distinct partition row;
  *  - `statsSkipping` maps pushed data filters to the paths worth
  *    reading. A caller over the unpruned live list (the native DSv2
  *    scan, `Snapshot.read`) passes it; one over a list it already
  *    pruned passes None.
  *
  * `files` is evaluated on first use, so a DSv2 aggregate answered from
  * log stats never collects it. The class extends
  * `PartitioningAwareFileIndex` only because `ParquetScanBuilder` takes
  * that type; it overrides every `FileIndex` member, so none of that
  * class's directory-based listing runs. Reference analogue: the
  * scan-unit stream of crates/datafusion/src/table_provider/delta/
  * mod.rs:90-149.
  */
final class GraftDeltaFileIndex(spark: SparkSession, tablePath: Path,
    files: => Seq[ScanFile], partSchema: StructType,
    statsSkipping: Option[Seq[Column] => Set[String]])
    extends PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {

  /** (partition row, files as (log path, status)) per distinct row. */
  private lazy val partitions
      : Seq[(InternalRow, Array[(String, FileStatus)])] = {
    val table = LogSegment.fs(spark, tablePath).makeQualified(tablePath)
    val names = partSchema.fieldNames.toSeq
    GraftDeltaFileIndex.withLogStatus(spark, tablePath, files)
      .groupBy(f =>
        names.map(n => f.partitionValues.get(n).flatMap(Option(_))))
      .toSeq.map { case (_, group) =>
        (GraftDeltaFileIndex.partitionRow(spark, partSchema,
          group.head.partitionValues), group.map { f =>
          f.relPath -> new FileStatus(f.size, false, 1, 0L, f.modTime,
            GraftDeltaFileIndex.absolute(table, f.relPath))
        }.toArray)
      }
  }

  private lazy val statuses: Seq[FileStatus] =
    partitions.flatMap(_._2.map(_._2))

  /** The partition filters as one predicate over a partition row. */
  private def partitionMatch(
      filters: Seq[Expression]): InternalRow => Boolean =
    if (filters.isEmpty) _ => true
    else Predicate.createInterpreted(filters.reduce(And).transform {
      case a: AttributeReference =>
        val i = partSchema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name))
        BoundReference(i, partSchema(i).dataType, nullable = true)
    }).eval

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept: Option[Set[String]] = statsSkipping.flatMap { skip =>
      val cols = dataFilters
        .flatMap(e => org.apache.spark.sql.graftshim.Shims.translateFilter(e))
        .flatMap(f => FilterColumns.toColumn(f))
      if (cols.isEmpty) None else Some(skip(cols))
    }
    val matches = partitionMatch(partitionFilters)
    val out = partitions.collect { case (values, group) if matches(values) =>
      PartitionDirectory(values,
        kept.fold(group)(k => group.filter(f => k(f._1))).map(_._2))
    }.filter(_.files.nonEmpty)
    GraftDeltaFileIndex.recordList(partitionFilters.size,
      dataFilters.size, out.map(_.files.length).sum)
    out
  }

  override def partitionSchema: StructType = partSchema
  override lazy val rootPaths: Seq[Path] = statuses.map(_.getPath)
  override def inputFiles: Array[String] = rootPaths.map(_.toString).toArray
  override def sizeInBytes: Long = statuses.map(_.getLen).sum
  override def allFiles(): Seq[FileStatus] = statuses
  override def refresh(): Unit = () // the file list is fixed

  // PartitioningAwareFileIndex's directory view: unread, since every
  // member that reads it is overridden above
  override def partitionSpec(): PartitionSpec = PartitionSpec(partSchema, Nil)
  override protected def leafFiles =
    scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
  override protected def leafDirToChildrenFiles =
    Map.empty[Path, Array[FileStatus]]
}

object GraftDeltaFileIndex {

  /** A file's typed partition row: each `partSchema` field's value from
    * `values` (keyed by field name) cast from its log string; absent,
    * JSON-null and the null-partition marker read as null. */
  private[graft] def partitionRow(spark: SparkSession, partSchema: StructType,
      values: Map[String, String]): InternalRow = {
    val tz = Option(spark.conf.get("spark.sql.session.timeZone"))
    InternalRow.fromSeq(partSchema.fields.toSeq.map { field =>
      values.get(field.name).flatMap(Option(_)) match {
        case None | Some(ExternalCatalogUtils.DEFAULT_PARTITION_NAME) => null
        case Some(v) => Cast(Literal(UTF8String.fromString(v), StringType),
          field.dataType, tz).eval(InternalRow.empty)
      }
    })
  }

  private[graft] def absolute(table: Path, rel: String): Path = {
    val p = new Path(rel)
    if (p.isAbsolute) p else new Path(table, rel)
  }

  /** `files` with every size and mtime the log leaves unknown (-1) read
    * from storage: one driver `getFileStatus` per such file, none for the
    * rest. A file the log names but storage lacks fails here, at plan
    * time, naming the file and the table. */
  private[graft] def withLogStatus(spark: SparkSession, tablePath: Path,
      files: Seq[ScanFile]): Seq[ScanFile] = {
    lazy val fs = LogSegment.fs(spark, tablePath)
    files.map { f =>
      if (f.size >= 0 && f.modTime >= 0) f
      else {
        val st = try fs.getFileStatus(
          absolute(fs.makeQualified(tablePath), f.relPath))
        catch {
          case e: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"Delta table $tablePath: the log names data file " +
                s"'${f.relPath}', which is missing from storage (deleted " +
                "outside the log, or reclaimed by VACUUM)", e)
        }
        f.copy(size = st.getLen, modTime = st.getModificationTime)
      }
    }
  }

  /** Test observability: the last 32 `listFiles` calls in this JVM as
    * (partitionFilterCount, dataFilterCount, filesReturned) — a
    * runtime-filtered (DPP) execution shows up as a call with an extra
    * partition filter returning a pruned file count. Bounded ring, so
    * a long-lived session never accumulates. */
  private val listCalls =
    new java.util.ArrayDeque[(Int, Int, Long)](33)
  private[graft] def recordList(nPart: Int, nData: Int,
      files: Long): Unit = listCalls.synchronized {
    if (listCalls.size >= 32) listCalls.removeFirst()
    listCalls.addLast((nPart, nData, files))
  }
  private[graft] def recentLists: Seq[(Int, Int, Long)] =
    listCalls.synchronized {
      scala.jdk.CollectionConverters.IteratorHasAsScala(
        listCalls.iterator).asScala.toList
    }
  private[graft] def clearListLog(): Unit =
    listCalls.synchronized(listCalls.clear())
}
