package graft.commands

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import graft.delta.{DeltaTable, Snapshot}
import graft.delta.log.{Actions, CommitWriter, RowTracking}
import graft.delta.log.Actions.{AddFile, DeletionVectorDescriptor, RemoveFile}
import graft.delta.scan.{DeltaScan, DvBitmap}

/** Row-level DELETE and UPDATE.
  *
  * Two storage strategies, chosen by the table's
  * `delta.enableDeletionVectors` property:
  *
  *  - **copy-on-write** (default): the provenance scan finds exactly
  *    the files with matching rows; only those are rewritten (the same
  *    shape as MERGE).
  *  - **merge-on-read** (`delta.enableDeletionVectors=true`): matching
  *    rows' physical positions become deletion vectors — no data file
  *    is rewritten. DELETE writes only DV files sized by the deleted
  *    row count (a 10-row delete on a 1 GB file costs ~bytes, not a
  *    1 GB rewrite); UPDATE additionally writes the updated row images
  *    as new files. DV files are packed per write TASK (one object per
  *    task, each data file's bitmap at its own offset), existing DVs
  *    are merged in on the executors, and a file whose merged DV
  *    covers every row is dropped outright (plain remove). The per-file
  *    index list an executor materializes is bounded by rows-per-data-
  *    file (the file layout bound), never by table size.
  *
  * Beyond-parity — the reference is read-only.
  */
object DmlCommands {

  /** One written DV entry, reported back from the executors: the file
    * it masks plus the descriptor fields (one small row per affected
    * file — the same driver-side bound as the commit JSON itself).
    * Top-level visibility so the Dataset encoder stays codegen-able. */
  case class DvWritten(fkey: String, pathOrInlineDv: String,
      offset: Int, sizeInBytes: Int, cardinality: Long)

  /** commitInfo.operationParameters carrying the DML predicate — the
    * operation metadata DESCRIBE HISTORY ecosystems surface. Rendered
    * best-effort: an unrenderable Column (e.g. holding a lambda) just
    * omits the entry rather than failing the commit. */
  private[commands] def predicateParam(condition: Column): Map[String, String] =
    scala.util.Try(
      org.apache.spark.sql.graftshim.Shims.expression(condition).sql)
      .toOption.map(sql => Map("predicate" -> sql)).getOrElse(Map.empty)

  /** DELETE FROM table WHERE condition. */
  def delete(spark: SparkSession, tablePath: String,
      condition: Column): DataFrame = {
    val snap = DeltaTable.forPath(spark, tablePath)
    if (dvEnabled(snap))
      deleteViaDv(spark, tablePath, snap, condition)
    else
      rewrite(spark, tablePath, condition, "DELETE",
        keep = df => df.where(!coalesce(condition, lit(false))),
        changeRows = (matched, _) =>
          matched.withColumn("_change_type", lit("delete")))
  }

  /** UPDATE table SET col = expr, ... WHERE condition. */
  def update(spark: SparkSession, tablePath: String, condition: Column,
      set: Map[String, Column]): DataFrame = {
    val snap = DeltaTable.forPath(spark, tablePath)
    val identity = graft.delta.log.IdentityColumns.of(snap.metadata)
      .map(_.name.toLowerCase).toSet
    val touched = set.keys.filter(k => identity(k.toLowerCase))
    require(touched.isEmpty,
      s"UPDATE cannot set identity column(s) ${touched.mkString(", ")} " +
        "(GENERATED ALWAYS); existing values ride the rewrite unchanged")
    if (dvEnabled(snap))
      updateViaDv(spark, tablePath, snap, condition, set)
    else
      rewrite(spark, tablePath, condition, "UPDATE",
        keep = df => {
          val cond = coalesce(condition, lit(false))
          set.foldLeft(df) { case (d, (name, value)) =>
            d.withColumn(name, when(cond, value).otherwise(col(name)))
          }
        },
        changeRows = (matched, meta) => {
          val cols = matched.columns.toIndexedSeq
          val post = graft.delta.log.GeneratedColumns.recompute(
            set.foldLeft(matched) { case (d, (n, v)) => d.withColumn(n, v) }
              .select(cols.map(col): _*), meta)
          matched.withColumn("_change_type", lit("update_preimage"))
            .unionByName(
              post.withColumn("_change_type", lit("update_postimage")))
        })
  }

  /** Shared copy-on-write: rewrite the affected files with `keep`
    * applied, remove the originals, one commit.
    *
    * @param changeRows CDC rows for `delta.enableChangeDataFeed`
    *   tables: given (matched rows [full schema, condition applied],
    *   metadata), produce the labeled change set. Only evaluated when
    *   the table requests CDC — the extra pass over the AFFECTED files
    *   is the write-time cost the property opts into. */
  /** Normalizer from a log-relative file path to the file-key form
    * DeltaScan stamps on rows (normalized absolute path, %XX-decoded
    * by the File->URI round-trip) — the ONE place this encoding
    * contract lives; every file-granular DML shares it. A pure
    * (String, String) => String so executors can apply it (a closure
    * over a FileSystem wouldn't serialize). */
  private[commands] def normalizeFileKey(qualifiedTable: String,
      rel: String): String = {
    val p = new Path(new Path(qualifiedTable), rel)
    new java.io.File(p.toUri.getPath).toURI.getRawPath.stripSuffix("/")
  }

  /** Log-relative paths of the live files whose normalized keys are in
    * `affected`. The normalization runs DISTRIBUTED (UDF over allFiles)
    * and only the MATCHED paths are collected — the driver holds
    * O(affected files), never the whole live-file inventory, which at
    * 100 TB with small files is millions of rows for a one-file
    * DELETE. The affected-key set itself is already driver-resident
    * (it came from a collect in the caller), so broadcasting it back
    * out costs nothing new. */
  private[commands] def affectedRelPaths(spark: SparkSession,
      snap: graft.delta.Snapshot, affected: Set[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{broadcast, udf}
    val fs = graft.delta.log.LogSegment.fs(spark, snap.tablePath)
    val qualified = fs.makeQualified(snap.tablePath).toString
    val normUdf = udf((rel: String) => normalizeFileKey(qualified, rel))
    val keys = spark.createDataset(affected.toSeq)(
      org.apache.spark.sql.Encoders.STRING).toDF("__key")
    val matched = snap.allFiles
      .select(col("path"), normUdf(col("path")).as("__key"))
      .join(broadcast(keys), Seq("__key"), "left_semi")
      .select("path").collect()
    collectedPathsForTest.set(matched.length)
    matched.map(_.getString(0)).toSeq
  }

  /** Test pin: rows collected by the last [[affectedRelPaths]] call —
    * DmlSpec asserts it equals the affected-file count on a many-file
    * fixture (the bounded-collect contract). */
  private[graft] val collectedPathsForTest =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Same pin for [[buildDvs]]'s file-info lookup (the DV DML paths). */
  private[graft] val collectedInfoForTest =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  private def rewrite(spark: SparkSession, tablePath: String,
      condition: Column, operation: String,
      keep: DataFrame => DataFrame,
      changeRows: (DataFrame, Actions.Metadata) => DataFrame): DataFrame = {
    val snap = DeltaTable.forPath(spark, tablePath)
    val cdfOn = graft.delta.log.ProtocolSupport.cdfEnabled(snap.metadata)
    graft.delta.log.ProtocolSupport.assertWritable(
      tablePath, snap.metadata, snap.protocol, dataChangingRemoves = true,
      producesCdc = cdfOn)
    require(!RowTracking.enabled(snap.metadata),
      s"copy-on-write $operation on a row-tracked table would move " +
        "surviving rows and reassign their ids — set " +
        "delta.enableDeletionVectors=true (merge-on-read preserves row " +
        "ids: masked files never move)")
    val target = DeltaScan.buildWithFileKey(snap)

    val affected = target.where(condition)
      .select(DeltaScan.FileKeyColumn).distinct()
      .collect().map(_.getString(0)).toSet

    if (affected.isEmpty) return metrics(spark, 0, 0, operation)

    val affectedRel = affectedRelPaths(spark, snap, affected)

    val rewritten = keep(DeltaScan.whereFileKeyIn(target, affected))
      .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)

    // UPDATE can manufacture a violating row; guard the rewrite inline.
    // Generated columns are recomputed so base-column updates flow into
    // them (the spec's "generated columns are updated" rule).
    // Column-mapped tables: the scan yields LOGICAL rows; the rewrite
    // renames back to physical names at the write boundary — the same
    // funnel every append takes — so mapped parquet never receives
    // logical-name columns.
    val adds = CommitWriter.writeTableFiles(spark,
      graft.delta.log.Constraints.enforce(
        graft.delta.log.GeneratedColumns.recompute(rewritten, snap.metadata),
        snap.metadata), tablePath, snap.metadata)
    val cdcActions = if (!cdfOn) Seq.empty[String] else {
      val matched = DeltaScan.whereFileKeyIn(target, affected)
        .where(coalesce(condition, lit(false)))
        .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)
      CommitWriter.writeCdcFiles(spark,
        changeRows(matched, snap.metadata), tablePath,
        snap.metadata).map(CommitWriter.cdcJson)
    }
    val now = System.currentTimeMillis()
    val removes = affectedRel.map(p => CommitWriter.removeJson(
      Actions.RemoveFile(p, Some(now), dataChange = true)))
    // lost races rebase when the winners are provably disjoint (e.g.
    // appends/compactions of partitions this predicate rules out) and
    // surface as typed conflicts otherwise — the affected files are
    // both this txn's read set and its remove set
    val rewriteActions =
      removes.toIndexedSeq ++ adds.map(CommitWriter.addJson) ++ cdcActions
    CommitWriter.commitWithRebaseVersioned(spark, tablePath, snap.segment,
      _ => rewriteActions, operation,
      profile = graft.delta.log.ConflictChecker.TxnProfile(
        readPaths = affectedRel.toSet, removePaths = affectedRel.toSet,
        dependsOnNewData = true, predicate = Some(condition),
        schema = snap.schema, partitionColumns = snap.partitionColumns),
      operationParameters = predicateParam(condition))
    metrics(spark, affectedRel.length, adds.size, operation)
  }

  private def metrics(spark: SparkSession, rewritten: Int, added: Int,
      operation: String): DataFrame = {
    CommandResult.metrics(spark,
      "operation" -> operation, "files_rewritten" -> rewritten.toString,
      "files_added" -> added.toString)
  }

  // ---- merge-on-read (deletion-vector) path --------------------------

  /** The ONE decode from an allFiles `deletionVector` struct row to a
    * descriptor — every file-granular command shares it so a new
    * descriptor field cannot be picked up in one place and silently
    * dropped in another. */
  private[graft] def dvDescriptorOf(r: Row): Option[DeletionVectorDescriptor] =
    Option(r.getAs[Row]("deletionVector")).map(d =>
      DeletionVectorDescriptor(
        d.getAs[String]("storageType"),
        d.getAs[String]("pathOrInlineDv"),
        Option(d.getAs[java.lang.Integer]("offset")).map(_.intValue()),
        d.getAs[Int]("sizeInBytes"),
        d.getAs[Long]("cardinality")))

  private[commands] def dvEnabled(snap: Snapshot): Boolean =
    snap.metadata.configuration.get("delta.enableDeletionVectors")
      .exists(_.equalsIgnoreCase("true"))

  /** Everything the commit needs to know about an affected file,
    * resolved once on the driver from the log. */
  private[commands] case class FileInfo(relPath: String,
      partitionValues: Map[String, String], size: Long,
      modificationTime: Long, stats: Option[String],
      dv: Option[DeletionVectorDescriptor], numRecords: Option[Long],
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  /** DELETE via deletion vectors: no data file is touched. Matching
    * rows' (file, physical row index) pairs are aggregated per file on
    * the executors, merged with any existing DV, and written as packed
    * DV files (one per task). The commit swaps each affected add entry
    * for the same entry carrying the bigger DV — or a plain remove
    * when the DV now covers the whole file. */
  private def deleteViaDv(spark: SparkSession, tablePath: String,
      snap: Snapshot, condition: Column): DataFrame = {
    val cdfOn = graft.delta.log.ProtocolSupport.cdfEnabled(snap.metadata)
    graft.delta.log.ProtocolSupport.assertWritable(
      tablePath, snap.metadata, snap.protocol, dataChangingRemoves = true,
      producesCdc = cdfOn)
    val (written, info) = buildDvs(spark, tablePath, snap,
      _.where(condition))
    if (written.isEmpty)
      return dvMetrics(spark, "DELETE", 0, 0, 0, 0)
    // CDC on a DV delete: the newly-masked rows are exactly the LIVE
    // rows matching the condition (already-masked rows never match the
    // current scan) — one extra pass over the affected bytes, the cost
    // the CDF property opts into
    val cdcActions = if (!cdfOn) Seq.empty[String] else
      CommitWriter.writeCdcFiles(spark,
        snap.read.where(coalesce(condition, lit(false)))
          .withColumn("_change_type", lit("delete")),
        tablePath, snap.metadata).map(CommitWriter.cdcJson)

    val (actions, masked, fullyRemoved, rowsDeleted) =
      maskActions(written, info)
    // tables enabled by paths that didn't upgrade the protocol get the
    // feature declared here, in the same commit as the first DV
    val protoUpgrade = graft.delta.log.ProtocolSupport
      .withDeletionVectors(snap.protocol)
      .map(CommitWriter.protocolJson).toSeq
    // the DV swap both reads and "removes" the masked files (their add
    // entries are replaced); a winner touching any of them — or adding
    // rows this predicate could match — is a typed conflict
    val touched = written.map(w => info(w.fkey).relPath).toSet
    CommitWriter.commitWithRebaseVersioned(spark, tablePath, snap.segment,
      _ => protoUpgrade ++ actions ++ cdcActions, "DELETE",
      profile = graft.delta.log.ConflictChecker.TxnProfile(
        readPaths = touched, removePaths = touched,
        dependsOnNewData = true, predicate = Some(condition),
        schema = snap.schema, partitionColumns = snap.partitionColumns),
      operationParameters = predicateParam(condition))
    dvMetrics(spark, "DELETE", masked, fullyRemoved, rowsDeleted, 0)
  }

  /** Remove+add (or plain remove when the DV covers the whole file)
    * actions for masked files. Returns (actions, masked count, fully
    * removed count, newly masked row count). */
  private[commands] def maskActions(written: Seq[DvWritten],
      info: Map[String, FileInfo])
      : (Seq[String], Int, Int, Long) = {
    val now = System.currentTimeMillis()
    val actions = Seq.newBuilder[String]
    var fullyRemoved = 0
    var masked = 0
    var rows = 0L
    for (w <- written) {
      val f = info.getOrElse(w.fkey, throw new IllegalStateException(
        s"deletion vector written for '${w.fkey}' but the snapshot has " +
          "no matching AddFile — scan and log state disagree"))
      rows += w.cardinality - f.dv.map(_.cardinality).getOrElse(0L)
      actions += CommitWriter.removeJson(RemoveFile(
        f.relPath, Some(now), dataChange = true, deletionVector = f.dv))
      if (f.numRecords.contains(w.cardinality)) {
        // the merged DV covers every physical row: drop the file
        fullyRemoved += 1
      } else {
        masked += 1
        // row-tracking fields ride the swap unchanged: the DV masks
        // positions, surviving rows keep their physical index and
        // therefore their baseRowId+index identity
        actions += CommitWriter.addJson(AddFile(
          path = f.relPath, partitionValues = f.partitionValues,
          size = f.size, modificationTime = f.modificationTime,
          dataChange = true, stats = f.stats.map(loosenStats),
          deletionVector = Some(DeletionVectorDescriptor("u",
            w.pathOrInlineDv, Some(w.offset), w.sizeInBytes,
            w.cardinality)),
          baseRowId = f.baseRowId,
          defaultRowCommitVersion = f.defaultRowCommitVersion))
      }
    }
    (actions.result(), masked, fullyRemoved, rows)
  }

  /** Per PROTOCOL, a file carrying a deletion vector must declare its
    * stats non-tight: min/max/nullCount describe all PHYSICAL rows (a
    * valid superset of the live rows), and numRecords stays the
    * physical count. Readers that trust tight bounds would otherwise
    * mis-prune. */
  private def loosenStats(stats: String): String = {
    Actions.mapper.readTree(stats) match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        o.put("tightBounds", false)
        Actions.mapper.writeValueAsString(o)
      case _ => stats
    }
  }

  /** UPDATE via deletion vectors: old row versions are masked with DVs
    * (same machinery as DELETE), updated row images land in NEW files
    * (physical-named via the same write funnel as appends on
    * column-mapped tables). */
  private def updateViaDv(spark: SparkSession, tablePath: String,
      snap: Snapshot, condition: Column,
      set: Map[String, Column]): DataFrame = {
    val cdfOn = graft.delta.log.ProtocolSupport.cdfEnabled(snap.metadata)
    graft.delta.log.ProtocolSupport.assertWritable(
      tablePath, snap.metadata, snap.protocol, dataChangingRemoves = true,
      producesCdc = cdfOn)
    val (written, info) = buildDvs(spark, tablePath, snap,
      _.where(condition))
    if (written.isEmpty)
      return dvMetrics(spark, "UPDATE", 0, 0, 0, 0)

    // updated row images, constraints enforced and generated columns
    // recomputed exactly like the copy-on-write path
    val target = DeltaScan.buildWithFileKey(snap)
    val updated = set.foldLeft(
        DeltaScan.whereFileKeyIn(target, written.map(_.fkey))
          .where(coalesce(condition, lit(false)))) {
        case (d, (name, value)) => d.withColumn(name, value)
      }
      .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)
    val adds = CommitWriter.writeTableFiles(spark,
      graft.delta.log.Constraints.enforce(
        graft.delta.log.GeneratedColumns.recompute(updated, snap.metadata),
        snap.metadata), tablePath, snap.metadata)

    // CDC pre-images are the live rows matching the condition; the
    // post-images are exactly the row images written above
    val cdcActions = if (!cdfOn) Seq.empty[String] else {
      val pre = snap.read.where(coalesce(condition, lit(false)))
        .withColumn("_change_type", lit("update_preimage"))
      val post = graft.delta.log.GeneratedColumns.recompute(
          updated, snap.metadata)
        .withColumn("_change_type", lit("update_postimage"))
      CommitWriter.writeCdcFiles(spark, pre.unionByName(post), tablePath,
        snap.metadata).map(CommitWriter.cdcJson)
    }

    val (actions, masked, fullyRemoved, rowsUpdated) =
      maskActions(written, info)
    val protoUpgrade = graft.delta.log.ProtocolSupport
      .withDeletionVectors(snap.protocol)
      .map(CommitWriter.protocolJson).toSeq
    val touched = written.map(w => info(w.fkey).relPath).toSet
    // row-tracked tables: the updated row images are NEW rows and get
    // fresh ids (the masked pre-images keep theirs via maskActions)
    CommitWriter.commitWithRebaseVersioned(spark, tablePath, snap.segment,
      parent => protoUpgrade ++ actions ++
        RowTracking.addActions(spark, snap.metadata, adds, parent) ++
        cdcActions,
      "UPDATE",
      profile = graft.delta.log.ConflictChecker.TxnProfile(
        readPaths = touched, removePaths = touched,
        dependsOnNewData = true, predicate = Some(condition),
        schema = snap.schema, partitionColumns = snap.partitionColumns),
      operationParameters = predicateParam(condition))
    dvMetrics(spark, "UPDATE", masked, fullyRemoved, rowsUpdated, adds.size)
  }

  /** Shared DV construction: scan with (file, row index) provenance,
    * restrict to the rows being masked (`restrict` must preserve the
    * provenance columns — a `where` for DELETE/UPDATE, a key semi-join
    * for MERGE), aggregate positions per file, merge with existing DVs
    * and write packed DV files ON THE EXECUTORS (one DV file per task;
    * the driver sees only one descriptor row per affected file). */
  private[commands] def buildDvs(spark: SparkSession, tablePath: String,
      snap: Snapshot, restrict: DataFrame => DataFrame)
      : (Seq[DvWritten], Map[String, FileInfo]) = {
    val target = DeltaScan.buildWithRowIndex(snap)
    // materialized ONCE: the affected-key set must come from the SAME
    // evaluation the row masks come from (a second restrict pass under
    // a nondeterministic predicate could disagree), and the file-info
    // lookup below must not collect the whole inventory to find it —
    // the checkpoint holds O(masked rows) on the EXECUTORS, the driver
    // only ever sees one descriptor row per affected file
    val matched = restrict(target)
      .groupBy(col(DeltaScan.FileKeyColumn))
      .agg(collect_list(col(DeltaScan.RowIndexColumn)).as("__rows"))
      .localCheckpoint()

    // AddFile info for the AFFECTED files only: normalize the file key
    // distributed and semi-join against the matched keys — at 100 TB
    // the full inventory is millions of rows (with ~KB stats JSON each)
    // and must never land on the driver for a one-file DELETE (same
    // diff-not-inventory contract as affectedRelPaths)
    val fsq = graft.delta.log.LogSegment.fs(spark, snap.tablePath)
      .makeQualified(snap.tablePath).toString
    val normUdf = udf((rel: String) => normalizeFileKey(fsq, rel))
    val affectedKeys = matched
      .select(col(DeltaScan.FileKeyColumn).as("__key"))
    val infoRows = snap.allFiles
      .select("path", "partitionValues", "size", "modificationTime",
        "stats", "deletionVector", "baseRowId", "defaultRowCommitVersion")
      .withColumn("__key", normUdf(col("path")))
      .join(broadcast(affectedKeys), Seq("__key"), "left_semi")
      .collect()
    collectedInfoForTest.set(infoRows.length)
    val info: Map[String, FileInfo] = infoRows.iterator.map { r =>
        val rel = r.getAs[String]("path")
        r.getAs[String]("__key") -> FileInfo(
          rel,
          Option(r.getAs[Map[String, String]]("partitionValues"))
            .getOrElse(Map.empty),
          r.getAs[Long]("size"),
          r.getAs[Long]("modificationTime"),
          Option(r.getAs[String]("stats")),
          dvDescriptorOf(r),
          Actions.numRecords(Option(r.getAs[String]("stats"))),
          Option(r.getAs[java.lang.Long]("baseRowId")).map(_.longValue()),
          Option(r.getAs[java.lang.Long]("defaultRowCommitVersion"))
            .map(_.longValue()))
      }.toMap

    val conf = new SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val existingDvs: Map[String, DeletionVectorDescriptor] =
      info.collect { case (k, f) if f.dv.isDefined => k -> f.dv.get }
    val dvBc = spark.sparkContext.broadcast(existingDvs)
    val tableStr = graft.delta.log.LogSegment.fs(spark, snap.tablePath)
      .makeQualified(snap.tablePath).toString

    import spark.implicits._
    val written: Seq[DvWritten] = matched
      .as[(String, Seq[Long])]
      .mapPartitions { it =>
        val entries = it.toVector
        if (entries.isEmpty) Iterator.empty
        else {
          val table = new Path(tableStr)
          val tfs = table.getFileSystem(conf.value)
          val merged = entries.map { case (fkey, rows) =>
            val prior = dvBc.value.get(fkey)
              .map(d => DvBitmap.load(tfs, table, d).iterator.toSeq)
              .getOrElse(Seq.empty)
            fkey -> (prior ++ rows).distinct.sorted
          }
          val descs = DvBitmap.writeDvFilePacked(
            tfs, table, merged.map(_._2))
          merged.iterator.zip(descs.iterator).map { case ((fkey, _), d) =>
            DvWritten(fkey, d.pathOrInlineDv, d.offset.getOrElse(1),
              d.sizeInBytes, d.cardinality)
          }
        }
      }.collect().toSeq
    (written, info)
  }

  private def dvMetrics(spark: SparkSession, operation: String,
      masked: Int, fullyRemoved: Int, rows: Long, added: Int): DataFrame = {
    CommandResult.metrics(spark,
      "operation" -> operation, "files_rewritten" -> "0",
      "files_added" -> added.toString, "files_dv_masked" -> masked.toString,
      "files_fully_removed" -> fullyRemoved.toString,
      "rows_affected" -> rows.toString)
  }
}
