package graft.delta.scan

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.delta.Snapshot
import graft.delta.log.Actions.DeletionVectorDescriptor
import graft.delta.log.LogSegment
import graft.delta.sources.GraftDeltaFileIndex

/** Assembles the user-facing DataFrame for a snapshot:
  *
  *   prune file list (stats + partition values, distributed)
  *     → collect surviving file paths (only the pruned list)
  *     → ONE parquet scan over the log-backed file index: physical data
  *       schema, logical partition schema (the scan appends each file's
  *       typed partition values)
  *     → physical→logical rename (column mapping, nested rebuild)
  *     → deletion-vector row filter on _metadata.row_index
  *     → residual predicate
  *
  * The reference does the same work as a custom exec node applying a
  * per-file transform expression (reference: crates/datafusion/src/
  * table_provider/delta/exec.rs:25-237, mod.rs:90-149). In Spark the
  * per-file dispatch collapses: name-based parquet resolution imputes
  * missing columns, partition values are the index's per-file partition
  * rows (so Catalyst sees real partition columns: partition filters and
  * dynamic partition pruning reach the file list), and the DV mask keys
  * off `_metadata.file_path` — a single scan, no N-way union, so the plan
  * shape is independent of file count (100 TB-safe).
  */
object DeltaScan {

  /** `size`/`modTime` are the log-recorded FileStatus halves (AddFile
    * carries both per the protocol); -1 = unknown (a remove records
    * neither), which the file index reads with one `getFileStatus`. */
  final case class ScanFile(
      relPath: String,
      partitionValues: Map[String, String],
      dv: Option[DeletionVectorDescriptor],
      size: Long = -1L,
      modTime: Long = -1L)

  /** DV row filtering switches from the codegen-friendly broadcast
    * anti-join to the compressed-bitmap UDF above this many deleted
    * rows (the pair expansion of a huge DV would dwarf the bitmaps). */
  private val DvAntiJoinMaxRows = 100000L

  /** Join keys between `_metadata.file_path` (a percent-encoded URI)
    * and driver-built paths: the SQL side strips the scheme but keeps
    * the URI encoding; the driver side re-encodes the raw on-disk path
    * the same way (File.toURI: %XX for space/%/non-ASCII). */
  private def normalizeExpr(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
  private def normalize(p: Path): String =
    new java.io.File(p.toUri.getPath).toURI.getRawPath.stripSuffix("/")

  def prunedFiles(snapshot: Snapshot, filters: Seq[Column]): DataFrame =
    StatsSkipping.prune(snapshot, snapshot.allFiles, filters)

  /** Name of the per-row provenance column exposed by `buildWithFileKey`
    * (the normalized path of the file the row came from). */
  final val FileKeyColumn = "_graft_file"

  /** Name of the per-row PHYSICAL position column exposed by
    * `buildWithRowIndex` — the parquet row index within the file the
    * row came from, i.e. exactly the coordinate a deletion vector
    * addresses. Rows already masked by an existing DV never appear in
    * the scan, so indexes collected from this column can be unioned
    * into the file's DV without overlap. */
  final val RowIndexColumn = "_graft_row_index"

  /** Scan that keeps row provenance — used by copy-on-write commands
    * (MERGE) to locate the files that contain matching rows. */
  def buildWithFileKey(snapshot: Snapshot): DataFrame =
    build(snapshot, Seq.empty, withFileColumn = true)

  /** Scan that keeps (file, physical row index) provenance — used by
    * merge-on-read DML to build deletion vectors for matching rows. */
  def buildWithRowIndex(snapshot: Snapshot): DataFrame =
    build(snapshot, Seq.empty, withFileColumn = true, withRowIndex = true)

  /** User-facing row-tracking columns (fresh row ids). */
  final val RowIdColumn = "_row_id"
  final val RowCommitVersionColumn = "_row_commit_version"

  /** Scan carrying fresh row-tracking columns: `_row_id` = the file's
    * baseRowId + the row's physical index (stable across DV-masked
    * DML — surviving rows never move), `_row_commit_version` = the
    * commit that created the row's file. The per-file id map is
    * metadata-bounded and broadcast; the id arithmetic is one codegen'd
    * projection over the normal scan. */
  def buildWithRowIds(snapshot: Snapshot): DataFrame = {
    val spark = snapshot.spark
    val fs = graft.delta.log.LogSegment.fs(spark, snapshot.tablePath)
    val qualified = fs.makeQualified(snapshot.tablePath)
    val idRows = snapshot.allFiles
      .select("path", "baseRowId", "defaultRowCommitVersion").collect()
    val missing = idRows.filter(_.isNullAt(1)).map(_.getString(0))
    require(missing.isEmpty,
      s"row tracking: ${missing.length} live file(s) lack baseRowId " +
        s"(e.g. '${missing.headOption.getOrElse("")}') — written by an " +
        "engine without the rowTracking feature? Fresh ids cannot be " +
        "derived")
    import spark.implicits._
    val idMap = idRows.toSeq.map { r =>
      (normalize(new Path(qualified, r.getString(0))), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))
    }.toDF(FileKeyColumn, "__base_row_id", "__row_cv")
    buildWithRowIndex(snapshot)
      .join(broadcast(idMap), Seq(FileKeyColumn))
      .withColumn(RowIdColumn, col("__base_row_id") + col(RowIndexColumn))
      .withColumn(RowCommitVersionColumn,
        when(col("__row_cv") >= 0, col("__row_cv")))
      .drop(FileKeyColumn, RowIndexColumn, "__base_row_id", "__row_cv")
  }

  /** Restrict a provenance-keyed scan to rows from the given files — a
    * broadcast semi-join on [[FileKeyColumn]], NOT an `isin`: a DML/MERGE
    * touching 10⁶ files would otherwise build a 10⁶-element In-literal
    * expression tree on the driver, while the broadcast hash relation
    * ships the same keys as compact data. */
  def whereFileKeyIn(df: DataFrame, keys: Iterable[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyDf = spark.createDataset(keys.toSeq).toDF(FileKeyColumn)
    df.join(broadcast(keyDf), Seq(FileKeyColumn), "left_semi")
  }

  /** `statsSkipping` is the index's plan-time skipping step for the data
    * filters Spark pushes into the scan (`Snapshot.read` passes
    * [[StatsSkipping.onScan]]); the pruned-list callers leave it None. */
  def build(snapshot: Snapshot, filters: Seq[Column],
      withFileColumn: Boolean = false,
      withRowIndex: Boolean = false,
      statsSkipping: Option[Seq[Column] => Set[String]] = None): DataFrame = {
    assemble(snapshot, scanFilesOf(prunedFiles(snapshot, filters)), filters,
      withFileColumn, withRowIndex, statsSkipping)
  }

  /** The log entries of a file-list frame (`allFiles` or a pruned part
    * of it), collected to the driver. */
  private[graft] def scanFilesOf(files: DataFrame): Seq[ScanFile] =
    files.select("path", "partitionValues", "deletionVector", "size",
        "modificationTime")
      .collect().toSeq.map { r =>
        ScanFile(
          r.getAs[String]("path"),
          Option(r.getAs[Map[String, String]]("partitionValues"))
            .getOrElse(Map.empty),
          Option(r.getAs[Row]("deletionVector")).map(parseDv),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4))
      }

  /** Scan an EXPLICIT file list through the snapshot's schema machinery
    * (column mapping, partition values, DVs) — the files need not be
    * live in the snapshot (the streaming source reads a commit's adds
    * even if a later rewrite already removed them from the log; the
    * data files exist until VACUUM). */
  def buildForFiles(snapshot: Snapshot, scanFiles: Seq[ScanFile]): DataFrame =
    assemble(snapshot, scanFiles, Seq.empty, withFileColumn = false)

  private def assemble(snapshot: Snapshot, logFiles: Seq[ScanFile],
      filters: Seq[Column], withFileColumn: Boolean,
      withRowIndex: Boolean = false,
      statsSkipping: Option[Seq[Column] => Set[String]] = None): DataFrame = {
    val spark = snapshot.spark
    val logical = snapshot.schema
    val partCols = snapshot.partitionColumns
    val partSchema = StructType(partCols.map(c => logical(c)))

    // every file's status, known before the surgical split: the normal
    // scan's index and the surgical splits both take theirs from here.
    // An empty list is an empty index, which still yields the provenance
    // columns the caller asked for (DML on an empty table groups by them).
    // partitionValues keys follow the protocol: PHYSICAL names under
    // column mapping (falling back to the logical key for tolerance of
    // pre-convention writers); the index reads them by LOGICAL name
    val scanFiles = GraftDeltaFileIndex.withLogStatus(spark,
      snapshot.tablePath, logFiles).map { f =>
        f.copy(partitionValues = partCols.flatMap(c => f.partitionValues
          .get(ColumnMapping.physicalPartitionName(snapshot.metadata, c))
          .orElse(f.partitionValues.get(c)).map(c -> _)).toMap)
      }
    val fs = LogSegment.fs(spark, snapshot.tablePath)
    val qualifiedTable = fs.makeQualified(snapshot.tablePath)
    def abs(rel: String): Path =
      GraftDeltaFileIndex.absolute(qualifiedTable, rel)

    val dataFields = logical.fields.filterNot(f => partCols.contains(f.name))
    val mappingMode = ColumnMapping.mode(snapshot.metadata)
    val physicalDataSchema =
      ColumnMapping.toPhysicalSchema(StructType(dataFields), mappingMode)

    val needDv = scanFiles.exists(_.dv.isDefined)

    // the driver holds DV DESCRIPTORS only (path/offset/size — bytes
    // per file), never an accumulated bitmap map: the surgical planner
    // and the small-DV expansion load one bitmap at a time and drop it,
    // and the large-DV mask decodes in the tasks that read each file
    // (DvTaskFilter) — so a scan over thousands of heavy-DV files never
    // concentrates sum-of-bitmap bytes in driver heap
    val dvDescriptors: Map[String, DeletionVectorDescriptor] =
      if (!needDv) Map.empty
      else scanFiles.flatMap(f =>
        f.dv.map(d => normalize(abs(f.relPath)) -> d)).toMap

    // the small-DV mask path will decode every bitmap on the driver
    // anyway (bounded by the anti-join cap); on that path the surgical
    // planner RETAINS what it decoded so the mask never re-reads a DV.
    // On the large path nothing is retained — the mask decodes in tasks.
    val totalDeleted = scanFiles.flatMap(_.dv).map(_.cardinality).sum
    val smallDvPath = totalDeleted <= DvAntiJoinMaxRows
    val plannedBitmaps =
      new java.util.concurrent.ConcurrentHashMap[String, DvBitmap.Bitmap]()

    // surgical row-group skip: files whose DV kills whole row groups
    // read through byte-ranged splits that never decode the dead groups
    val hconf = org.apache.spark.sql.graftshim.Shims
      .hadoopConfWithOptions(spark, Map.empty)
    val surgical: Map[String, (Seq[(Long, Long)], Int, Int)] =
      if (!needDv || !DvRowGroupSkip.enabled(spark)) Map.empty
      else {
        val minDel = DvRowGroupSkip.minDeleted(spark)
        val candidates = scanFiles
          .filter(_.dv.exists(_.cardinality >= minDel))
        // footer reads are independent metadata I/O — run them on the
        // global pool so a scan with many heavy-DV files doesn't
        // serialize per-file round trips on the driver
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.global
        Await.result(
          Future.traverse(candidates) { f => Future {
            val key = normalize(abs(f.relPath))
            // transient on the large path; kept for the mask on the
            // small path (where total decoded rows are capped anyway)
            val bm = DvBitmap.load(fs, qualifiedTable, dvDescriptors(key))
            if (smallDvPath) plannedBitmaps.put(key, bm)
            DvRowGroupSkip.liveRanges(fs, abs(f.relPath), bm, hconf)
              .map(key -> _)
          }},
          scala.concurrent.duration.Duration.Inf).flatten.toMap
      }
    if (surgical.nonEmpty) {
      DvRowGroupSkip.lastSkipped.set(surgical.values.map(_._2.toLong).sum)
      DvRowGroupSkip.lastDecoded.set(
        surgical.values.map(v => (v._3 - v._2).toLong).sum)
    }
    val normalScanFiles =
      scanFiles.filterNot(f => surgical.contains(normalize(abs(f.relPath))))

    // the log IS the file inventory: the relation scans the log-backed
    // index over the surviving files, so planning lists nothing
    // (spark.read.parquet would re-stat every path per scan, and past 32
    // paths launch a distributed listing job per read)
    var df = org.apache.spark.sql.graftshim.Shims.parquetRelation(spark,
      new GraftDeltaFileIndex(spark, snapshot.tablePath, normalScanFiles,
        partSchema, statsSkipping),
      physicalDataSchema)

    val helperCols = Seq.newBuilder[Column]
    if (needDv || withFileColumn)
      helperCols += normalizeExpr(col("_metadata.file_path")).as("__fkey")
    if (needDv || withRowIndex)
      helperCols += col("_metadata.row_index").as("__row_index")

    val logicalDataCols = dataFields.zip(physicalDataSchema.fields).map {
      case (lf, pf) => ColumnMapping.toLogicalColumn(pf, lf)
    }
    val partitionCols = partCols.map(col)
    df = df.select((logicalDataCols ++ partitionCols ++ helperCols.result())
      .toIndexedSeq: _*)

    if (surgical.nonEmpty) {
      // surgical files union in AFTER the physical->logical projection:
      // their frame already carries __fkey/__row_index (same provenance
      // contract), and a surgical scan implies needDv, so both helper
      // columns exist on the normal side too
      val surgicalFiles = scanFiles
        .filter(f => surgical.contains(normalize(abs(f.relPath))))
        .map { f =>
          val absPath = abs(f.relPath)
          val key = normalize(absPath)
          (absPath, key, surgical(key)._1, f.modTime, f.size,
            GraftDeltaFileIndex.partitionRow(spark, partSchema,
              f.partitionValues))
        }
      val sdf = DvRowGroupSkip.scan(spark, physicalDataSchema, partSchema,
        surgicalFiles)
      val sSel = sdf.select((logicalDataCols ++ partitionCols :+
        col("__fkey") :+ col("__row_index")).toIndexedSeq: _*)
      df = (if (normalScanFiles.isEmpty) sSel else df.unionByName(sSel))
    }

    if (needDv) {
      if (smallDvPath) {
        // small-DV path (the overwhelmingly common case: DVs mark a few
        // deleted rows per file): materialize the deleted (file, row)
        // pairs and drop them with a broadcast LEFT ANTI join — a plain
        // BroadcastHashJoin that stays inside whole-stage codegen,
        // unlike a per-row Scala UDF which fences it
        val delSchema = StructType(Seq(
          StructField("__fkey", StringType),
          StructField("__row_index", LongType)))
        val delRows = new java.util.ArrayList[Row](totalDeleted.toInt)
        for ((k, d) <- dvDescriptors) {
          // transient decode, bounded by DvAntiJoinMaxRows total;
          // surgical candidates reuse the planner's decode
          val bm = Option(plannedBitmaps.get(k))
            .getOrElse(DvBitmap.load(fs, qualifiedTable, d))
          bm.iterator.foreach(i => delRows.add(Row(k, i)))
        }
        df = df.join(broadcast(spark.createDataFrame(delRows, delSchema)),
          Seq("__fkey", "__row_index"), "left_anti")
      } else {
        // large-DV path: ship descriptors, decode IN THE TASKS that
        // read each file (per-executor bounded cache) — driver memory
        // stays O(files) and decode work lands where the rows are read,
        // the executor-side placement production Delta readers use.
        // The probe is a NATIVE expression (DvKeep): one generated
        // method call per row inside the fused stage, where the Scala
        // UDF it replaced fenced whole-stage codegen on exactly the
        // path with the most rows
        val keep = org.apache.spark.sql.graftshim.Shims.column(
          DvKeep(
            org.apache.spark.sql.graftshim.Shims.expression(col("__fkey")),
            org.apache.spark.sql.graftshim.Shims.expression(
              col("__row_index")),
            qualifiedTable.toUri.toString, dvDescriptors,
            new DvTaskFilter.SerHadoopConf(hconf)))
        df = df.where(keep)
      }
    }

    if (withFileColumn) df = df.withColumn(FileKeyColumn, col("__fkey"))
    if (withRowIndex) df = df.withColumn(RowIndexColumn, col("__row_index"))
    df = df.drop("__fkey", "__row_index")
    val outCols = logical.fieldNames.toIndexedSeq ++
      (if (withFileColumn) Seq(FileKeyColumn) else Seq.empty) ++
      (if (withRowIndex) Seq(RowIndexColumn) else Seq.empty)
    df = df.select(outCols.map(col): _*)
    applyResidual(df, filters)
  }

  private def applyResidual(df: DataFrame, filters: Seq[Column]): DataFrame =
    if (filters.isEmpty) df else df.where(filters.reduce(_ && _))

  private def parseDv(r: Row): DeletionVectorDescriptor =
    DeletionVectorDescriptor(
      storageType = r.getAs[String]("storageType"),
      pathOrInlineDv = r.getAs[String]("pathOrInlineDv"),
      offset = Option(r.getAs[java.lang.Integer]("offset")).map(_.intValue()),
      sizeInBytes = r.getAs[Int]("sizeInBytes"),
      cardinality = r.getAs[Long]("cardinality"))
}
