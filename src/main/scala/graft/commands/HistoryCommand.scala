package graft.commands

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types._
import graft.delta.DeltaTable
import graft.delta.log.{Actions, CommitWriter, LogSegment}

/** DESCRIBE HISTORY + RESTORE: table history from commitInfo lines and
  * version rollback as a new commit (standard lakehouse maintenance
  * surface; the reference is read-only so both are beyond-parity).
  * DESCRIBE DETAIL, SHOW TBLPROPERTIES and SHOW PARTITIONS read the
  * same snapshot metadata. */
object HistoryCommand {
  /** Rows the last restore() brought to the driver — pinned by
    * RestoreSpec to the DIFF size, guarding against a regression to
    * full-inventory collects. */
  @volatile private[graft] var collectedForTest: Long = -1L

  val historySchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("timestamp", LongType, nullable = true),
    StructField("operation", StringType, nullable = true),
    StructField("engine_info", StringType, nullable = true),
    StructField("operation_parameters", StringType, nullable = true),
    StructField("n_actions", LongType, nullable = false)))

  val detailSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("description", StringType, nullable = true),
    StructField("location", StringType, nullable = false),
    StructField("createdAt", LongType, nullable = true),
    StructField("lastModified", LongType, nullable = true),
    StructField("partitionColumns", ArrayType(StringType), nullable = false),
    StructField("clusteringColumns", ArrayType(StringType),
      nullable = false),
    StructField("numFiles", LongType, nullable = false),
    StructField("sizeInBytes", LongType, nullable = false),
    StructField("properties", MapType(StringType, StringType),
      nullable = false),
    StructField("minReaderVersion", IntegerType, nullable = false),
    StructField("minWriterVersion", IntegerType, nullable = false)))

  /** DESCRIBE DETAIL: one metadata row for the current snapshot. File
    * count/bytes are a distributed aggregation over the live-file list;
    * timestamps come from commit mtimes (DESCRIBE HISTORY's clock on a
    * table without in-commit timestamps). */
  def detail(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val snap = DeltaTable.forPath(spark, tablePath)
    val agg = snap.allFiles
      .agg(count(lit(1)), coalesce(sum(col("size")), lit(0L))).head
    val fs = LogSegment.fs(spark, new Path(tablePath))
    val mtimes = fs.listStatus(new Path(tablePath, "_delta_log")).toSeq
      .flatMap(st => LogSegment.commitVersion(st.getPath.getName)
        .map(_ => st.getModificationTime))
    val row = Row(
      snap.metadata.format.provider,
      snap.metadata.id,
      snap.metadata.name.orNull,
      snap.metadata.description.orNull,
      tablePath,
      snap.metadata.createdTime
        .map(Long.box).getOrElse(
          if (mtimes.isEmpty) null else Long.box(mtimes.min)),
      if (mtimes.isEmpty) null else Long.box(mtimes.max),
      snap.partitionColumns,
      graft.delta.log.Clustering.columnsOf(spark, snap.segment),
      agg.getLong(0),
      agg.getLong(1),
      snap.metadata.configuration,
      snap.protocol.minReaderVersion,
      snap.protocol.minWriterVersion)
    CommandResult.result(spark, detailSchema, row)
  }

  val tblPropertiesSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** SHOW TBLPROPERTIES: the table configuration, sorted by key. */
  def tblProperties(spark: SparkSession, tablePath: String): DataFrame =
    CommandResult.result(spark, tblPropertiesSchema,
      DeltaTable.forPath(spark, tablePath).metadata.configuration.toSeq
        .sortBy(_._1).map { case (k, v) => Row(k, v) }: _*)

  val partitionsSchema: StructType = StructType(Seq(
    StructField("partition", StringType, nullable = false)))

  /** SHOW PARTITIONS: distinct live partitions straight off the log
    * inventory — O(files) metadata, zero data read; on a 100 TB table
    * this is the replay cache, not a scan. Spark's display convention:
    * one `partition` string column, `k1=v1/k2=v2`, nulls shown as the
    * Hive default-partition sentinel. partitionValues keys follow the
    * protocol: PHYSICAL names under column mapping, with a logical-key
    * fallback for pre-convention writers. */
  def partitions(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, concat, concat_ws, element_at, lit}
    val snap = DeltaTable.forPath(spark, tablePath)
    val partCols = snap.partitionColumns
    require(partCols.nonEmpty,
      s"SHOW PARTITIONS: $tablePath is not a partitioned table")
    val pieces = partCols.map { c =>
      val phys = graft.delta.scan.ColumnMapping
        .physicalPartitionName(snap.metadata, c)
      concat(lit(s"$c="), coalesce(
        element_at(col("partitionValues"), phys),
        element_at(col("partitionValues"), c),
        lit(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)))
    }
    snap.allFiles
      .select(concat_ws("/", pieces: _*).as("partition"))
      .distinct().orderBy("partition")
  }

  /** One row per commit, newest first (driver-side: the commit list is
    * the log tail, bounded). `timestamp` is the commit's timestamp by the
    * protocol rule ([[LogSegment.commitTimestamp]]), so a value read off
    * the history resolves to the same version under TIMESTAMP AS OF. */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    val fs = LogSegment.fs(spark, new Path(tablePath))
    val logPath = new Path(tablePath, "_delta_log")
    val commits = fs.listStatus(logPath).toSeq
      .flatMap(st => LogSegment.commitVersion(st.getPath.getName).map(_ -> st))
      .sortBy(-_._1)
    val rows = for ((version, st) <- commits) yield {
      val actions = LogSegment.readLines(fs, st.getPath).map(_.node)
      val ci = actions.find(_.has("commitInfo")).map(_.get("commitInfo"))
      Row(version,
        LogSegment.commitTimestamp(st, actions),
        ci.flatMap(c => Option(c.get("operation")).map(_.asText())).orNull,
        ci.flatMap(c => Option(c.get("engineInfo")).map(_.asText())).orNull,
        // raw minified JSON of commitInfo.operationParameters (the
        // ecosystem-standard operation metadata: DML predicates, merge
        // keys) — null for commits that recorded none
        ci.flatMap(c => Option(c.get("operationParameters"))
          .map(_.toString)).orNull,
        actions.size.toLong - ci.size)
    }
    CommandResult.result(spark, historySchema, rows: _*)
  }

  /** Restore the table to `version`: one commit removing files not in
    * the target version and re-adding files the target had (data files
    * are never touched, so the restore itself is time-travelable). */
  def restore(spark: SparkSession, tablePath: String,
      version: Long): DataFrame = {
    val current = DeltaTable.forPath(spark, tablePath)
    graft.delta.log.ProtocolSupport.assertWritable(
      tablePath, current.metadata, current.protocol,
      dataChangingRemoves = true)
    require(version <= current.version,
      s"Cannot restore to future version $version (latest ${current.version})")
    val target = DeltaTable.forPath(spark, tablePath, Some(version))

    // The diff is computed DISTRIBUTED and only the changed rows are
    // collected: at 10^7 files, a restore that touches 100 of them
    // brings 100 rows to the driver, not two full inventories. The
    // DV identity join key mirrors DeletionVectorDescriptor.uniqueId.
    import org.apache.spark.sql.functions.{coalesce, col, concat, lit}
    val dvIdCol = coalesce(
      concat(col("deletionVector.storageType"),
        col("deletionVector.pathOrInlineDv"),
        coalesce(concat(lit("@"),
          col("deletionVector.offset").cast("string")), lit(""))),
      lit(""))
    val curKeys = current.allFiles
      .select(col("path"), dvIdCol.as("__cur_dv"))
    val tgtKeys = target.allFiles
      .select(col("path"), dvIdCol.as("__tgt_dv"))

    val now = System.currentTimeMillis()
    // removes carry the removed version's DV descriptor (protocol's
    // remove.deletionVector) so LITE vacuums reclaim them post-checkpoint
    val removedRows = current.allFiles
      .join(tgtKeys.select("path"), Seq("path"), "left_anti")
      .select("path", "deletionVector")
      .collect().sortBy(_.getString(0))
    val removedPaths = removedRows.map(_.getString(0))
    val removes = removedRows.toSeq.map(r => CommitWriter.removeJson(
      Actions.RemoveFile(r.getString(0), Some(now), dataChange = true,
        deletionVector = DmlCommands.dvDescriptorOf(r))))

    // re-add files the target had, AND files present in both versions
    // whose deletion vector differs (a path-only diff would silently keep
    // the current DV, resurrecting or re-deleting rows); the re-add
    // carries the target's DV so the restored snapshot masks exactly the
    // target's deleted rows
    val readdRows = target.allFiles
      .withColumn("__tgt_dv", dvIdCol)
      .join(curKeys, Seq("path"), "left")
      .where(col("__cur_dv").isNull || col("__cur_dv") =!= col("__tgt_dv"))
      .drop("__cur_dv", "__tgt_dv")
      .collect().sortBy(_.getAs[String]("path"))
    collectedForTest = removedPaths.length.toLong + readdRows.length
    val adds = readdRows.toSeq
      .map { r =>
        val p = r.getAs[String]("path")
        CommitWriter.addJson(Actions.AddFile(
          path = p,
          partitionValues = Option(r.getAs[Map[String, String]]("partitionValues"))
            .getOrElse(Map.empty),
          size = r.getAs[Long]("size"),
          modificationTime = r.getAs[Long]("modificationTime"),
          dataChange = true,
          stats = Option(r.getAs[String]("stats")),
          deletionVector = DmlCommands.dvDescriptorOf(r),
          // restored rows keep their identities (same physical files)
          baseRowId = Option(r.getAs[java.lang.Long]("baseRowId"))
            .map(_.longValue()),
          defaultRowCommitVersion =
            Option(r.getAs[java.lang.Long]("defaultRowCommitVersion"))
              .map(_.longValue())))
      }
    // restoring an older schema re-publishes its metaData too
    val metaAction =
      if (target.metadata.schemaString != current.metadata.schemaString)
        Seq(CommitWriter.metadataJson(target.metadata))
      else Seq.empty

    // RESTORE's actions were computed from the FULL current live set, so
    // any concurrent data change is a real conflict (typed); only a
    // content-neutral winner (pure SetTransaction) permits a rebase.
    // readsWholeTable stands in for the READ inventory (O(1) on the
    // driver); removePaths is the restore's own remove set — already
    // collected as the diff — so a del/del race keeps its
    // ConcurrentDeleteDelete classification.
    val restoreActions = metaAction ++ removes ++ adds
    CommitWriter.commitWithRebaseVersioned(spark, tablePath, current.segment,
      _ => restoreActions, operation = s"RESTORE VERSION $version",
      profile = graft.delta.log.ConflictChecker.TxnProfile(
        removePaths = removedPaths.toSet,
        dependsOnNewData = true, readsWholeTable = true))

    CommandResult.metrics(spark,
      "restored_to_version" -> version.toString,
      "files_removed" -> removes.size.toString,
      "files_added" -> adds.size.toString)
  }
}
