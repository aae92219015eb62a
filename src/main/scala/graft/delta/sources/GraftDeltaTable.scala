package graft.delta.sources

import java.util.{Set => JSet}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.delta.{DeltaTable, Snapshot}
import graft.delta.scan.{ColumnMapping, DeltaScan, StatsSkipping}

/** DSv2 `Table` for graftdelta (the Spark analogue of the reference's
  * `TableProvider::scan`, crates/datafusion/src/table_provider/delta/
  * mod.rs:90-149). Both scan strategies behind it read the table's files
  * through the one log-backed [[GraftDeltaFileIndex]]:
  *
  *  - NATIVE (no deletion vectors, identity column mapping — the common
  *    case): Spark's own `ParquetScanBuilder` over the index, built on
  *    the unpruned live list with the plan-time stats skipping that
  *    `Snapshot.read` also takes ([[StatsSkipping.onScan]]). File
  *    splits stream from it at plan time (partition pruning + stats
  *    skipping both applied there), the scan is Spark's vectorized
  *    parquet batch read inside whole-stage codegen, pushed filters
  *    are visible on the BatchScan node, and a runtime filter (dynamic
  *    partition pruning) re-lists the index.
  *  - COMPOSED (DV or column-mapping tables): a `V1Scan` wrapping the
  *    assembled DataFrame ([[DeltaScan]]: `Snapshot.read`, or
  *    `readWhere` with the pushed filters), whose parquet relation scans
  *    the index, appends each file's partition values, and carries the
  *    DV anti-join and physical→logical rename. Pushed filters still
  *    reach stats skipping and still print on the scan node.
  *
  * Schema order follows Spark's file-source convention: data columns
  * first, partition columns last.
  */
final class GraftDeltaTable(spark: SparkSession, path: String,
    versionAsOf: Option[Long],
    // incremental read: (startingVersion, endingVersion | -1 = latest);
    // serves the rows ADDED by commits in that range (see CommitRangeScan)
    versionRange: Option[(Long, Long)] = None,
    ignoreChanges: Boolean = false,
    // with versionRange: emit the derived row-level change feed
    // (_change_type insert|delete, _commit_version) instead of adds-only
    changeFeed: Boolean = false) extends Table with SupportsRead {

  private[sources] lazy val snapshot: Snapshot = versionRange match {
    case Some((_, end)) if end >= 0 =>
      DeltaTable.forPath(spark, path, Some(end))
    case _ => DeltaTable.forPath(spark, path, versionAsOf)
  }
  private lazy val partCols = snapshot.partitionColumns
  private lazy val dataFields =
    snapshot.schema.fields.filterNot(f => partCols.contains(f.name))
  private lazy val partFields = partCols.map(c => snapshot.schema(c))

  override def name(): String = s"graftdelta.`$path`"

  /** DataFrameWriter resolves the table (via inferSchema) BEFORE its
    * not-SupportsWrite fallback to the v1 write path, including for
    * tables that don't exist yet — so a missing table must yield an
    * empty schema here, not an error. Reads of a missing table still
    * fail with the proper message when the scan resolves the snapshot. */
  private lazy val tableExists: Boolean = {
    val logPath = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), "_delta_log")
    graft.delta.log.LogSegment.fs(spark, logPath).exists(logPath)
  }

  override def schema(): StructType =
    if (!tableExists) new StructType()
    else GraftDeltaStreamSource.sourceSchema(
      StructType(dataFields.toIndexedSeq ++ partFields), changeFeed)

  override def partitioning(): Array[Transform] =
    if (!tableExists) Array.empty
    else partCols.map(c => Expressions.identity(c)).toArray

  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  // memoized: newScanBuilder runs once per scan of this table instance,
  // and the probe is a metadata job — re-running it per scan would pay
  // driver latency for an answer fixed by the (immutable) snapshot
  private lazy val hasDvs: Boolean = snapshot.allFiles
    .where(col("deletionVector").isNotNull).limit(1).collect().nonEmpty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    versionRange match {
      case Some((startV, _)) =>
        // incremental range scan: composed read over the span's add files
        // (or the derived per-commit change feed)
        val snap = snapshot
        new GraftDeltaComposedScanBuilder(snap, schema(), filters => {
          val df =
            if (changeFeed) graft.delta.scan.CommitRangeScan.changesBetween(
              spark, path, snap, startV - 1, snap.version)
            else graft.delta.scan.CommitRangeScan.addsBetween(spark, path,
              snap, startV - 1, snap.version, ignoreChanges,
              "Incremental batch read")
          if (filters.isEmpty) df else df.where(filters.reduce(_ && _))
        }, reportSnapshotStats = false)
      case None =>
        val identityMapping = ColumnMapping.mode(snapshot.metadata) == "none"
        if (identityMapping && !hasDvs)
          new org.apache.spark.sql.graftshim.StatsAggScanBuilder(
            ParquetScanBuilder(spark,
              new GraftDeltaFileIndex(spark, snapshot.tablePath,
                DeltaScan.scanFilesOf(snapshot.allFiles),
                StructType(partFields.toIndexedSeq),
                StatsSkipping.onScan(snapshot)),
              schema(), StructType(dataFields.toIndexedSeq), options),
            statsAnswer,
            partitionSchema = StructType(partFields.toIndexedSeq))
        else new GraftDeltaComposedScanBuilder(snapshot, schema(),
          filters =>
            if (filters.isEmpty) snapshot.read
            else snapshot.readWhere(filters: _*))
    }
  }

  /** Whole-table COUNT(*) / MIN / MAX answered EXACTLY from log stats,
    * or None (run the real scan). Exactness gates: no grouping; count
    * needs complete numRecords (DV cardinalities subtract); min/max
    * need a primitive numeric top-level column with complete stats, no
    * DVs (a masked row could hold the extreme), and no float->double
    * widening history (pre-widening stat strings parse to a different
    * double than the stored float image). */
  private def statsAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.types._
    if (agg.groupByExpressions.nonEmpty) return None

    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        val name = f.fieldNames.head
        snapshot.schema.fields.find(_.name.equalsIgnoreCase(name))
          .filter(sf => !partCols.contains(sf.name))
          .filter(sf => sf.name.matches("[A-Za-z0-9_]+")) // JSON-path-safe
          .filter(sf => sf.dataType match {
            case ByteType | ShortType | IntegerType | LongType |
                 FloatType | DoubleType => true
            case _ => false
          })
          .filterNot(_.metadata.contains("delta.typeChanges"))
      case _ => None
    }

    // one metadata aggregation per referenced column, memoized so
    // MIN(x), MAX(x) in one query cost one file-list pass
    val rangeCache =
      scala.collection.mutable.Map.empty[String, Option[(Any, Any)]]
    def rangeOf(sf: StructField): Option[(Any, Any)] =
      rangeCache.getOrElseUpdate(sf.name,
        snapshot.statsRange(sf.name, sf.dataType))

    val resolved: Seq[Option[(StructField, Any)]] =
      agg.aggregateExpressions.toSeq.zipWithIndex.map {
        case (_: CountStar, i) =>
          snapshot.statsRowCount.map(n =>
            (StructField(s"agg_$i", LongType, nullable = false), n: Any))
        case (m: Min, i) => fieldOf(m.column).flatMap(sf =>
          rangeOf(sf).map(r =>
            (StructField(s"agg_$i", sf.dataType, nullable = false), r._1)))
        case (m: Max, i) => fieldOf(m.column).flatMap(sf =>
          rangeOf(sf).map(r =>
            (StructField(s"agg_$i", sf.dataType, nullable = false), r._2)))
        case _ => None
      }
    if (resolved.isEmpty || !resolved.forall(_.isDefined)) None
    else Some((StructType(resolved.flatten.map(_._1)),
      resolved.flatten.map(_._2)))
  }
}

/** Fallback scan for DV / column-mapping tables and incremental range
  * reads: pushdown bookkeeping at the DSv2 layer, execution through the
  * composed v1 DataFrame produced by `buildBase` (pushed filters in,
  * assembled DataFrame out). */
final class GraftDeltaComposedScanBuilder(snapshot: Snapshot,
    fullSchema: StructType,
    buildBase: Seq[Column] => org.apache.spark.sql.DataFrame,
    // snapshot statistics describe the LIVE file set — valid for the
    // plain snapshot scan only. A versionRange/changeFeed scan's row
    // set can dwarf the final snapshot (a change feed over a full
    // delete emits 2N rows against 0 live files), so those branches
    // must NOT report them: Catalyst would auto-broadcast a huge
    // relation it believes is empty.
    reportSnapshotStats: Boolean = true)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // best-effort contract (the reference's Inexact filters,
    // table_provider/delta/mod.rs:83-88): record what the skipping layer
    // understands, let Spark re-evaluate everything row-level
    pushed = filters.filter(f => FilterColumns.toColumn(f).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new V1Scan
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    override def readSchema(): StructType = required
    // report log-derived size/row statistics (plain snapshot scans
    // only — see reportSnapshotStats): without them the composed
    // DV / column-mapping relation has UNKNOWN size and Catalyst never
    // auto-broadcasts it — a dim-sized DV table would shuffle the fact
    // side instead of broadcasting itself. On-disk parquet bytes
    // UNDERSTATE in-memory size, which only errs toward broadcasting
    // smaller tables; DV-deleted rows still count toward size, erring
    // conservative the other way.
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      new org.apache.spark.sql.connector.read.Statistics {
        private val stats: Option[(Long, Option[Long])] =
          if (reportSnapshotStats) Some(snapshot.sizeAndRows) else None
        override def sizeInBytes(): java.util.OptionalLong =
          stats.fold(java.util.OptionalLong.empty())(s =>
            java.util.OptionalLong.of(math.max(s._1, 1L)))
        override def numRows(): java.util.OptionalLong =
          stats.flatMap(_._2).fold(java.util.OptionalLong.empty())(
            java.util.OptionalLong.of)
      }
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T = {
      val filterCols = pushed.toSeq.flatMap(FilterColumns.toColumn)
      val df0 = buildBase(filterCols)
      val projected =
        if (required.isEmpty) df0.select()
        else df0.select(required.fieldNames.map(col).toIndexedSeq: _*)
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = required
        override def buildScan(): RDD[Row] = projected.rdd
      }.asInstanceOf[T]
    }
  }
}

/** public sources.Filter → Column (shared by the v1 relation, the DSv2
  * fallback scan, and the file index's stats-skipping hookup; only
  * shapes the skipping layer understands — the rest stay residual). */
object FilterColumns {
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === v)
    case GreaterThan(a, v) => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v) => Some(col(a) < v)
    case LessThanOrEqual(a, v) => Some(col(a) <= v)
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case And(l, r) => for {lc <- toColumn(l); rc <- toColumn(r)} yield lc && rc
    case Or(l, r) => for {lc <- toColumn(l); rc <- toColumn(r)} yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}
