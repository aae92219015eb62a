package graft.commands

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.delta.DeltaTable
import graft.delta.scan.DvBitmap
import graft.ops.DirListing

/** VACUUM: remove stale files from a Delta table directory.
  *
  * Semantics mirror the reference command (reference: crates/datafusion/
  * src/commands/vacuum/mod.rs:50-147):
  *  - retention = RETAIN n HOURS if given, else the table property
  *    `delta.deletedFileRetentionDuration`, else 7 days;
  *  - when `spark.lakehouse.delta.retention_duration_check.enabled`
  *    (default true) and RETAIN is shorter than the table property,
  *    fail with "retention duration is shorter than the minimum
  *    required duration" (vacuum/mod.rs:92-101);
  *  - candidate filter: !is_dir && modification_time < now-retention &&
  *    relative path doesn't start with '_' (vacuum/mod.rs:111-132);
  *  - DRY RUN returns the first 1000 candidates with the directory
  *    listing schema (vacuum/mod.rs:134-136);
  *  - a real run deletes and returns (metric_name, metric_value) string
  *    rows (commands/vacuum/logical.rs:21-29).
  *
  * Deliberate divergence: candidates are additionally anti-joined
  * against the live snapshot's data files and deletion-vector files, so
  * VACUUM can never delete data still referenced by the current version
  * (the reference's filter alone would).
  *
  * VACUUM LITE (the reference's `todo!` at vacuum/mod.rs:130,
  * implemented here the way insert_into exceeded its stub): candidates
  * come from the LOG'S REMOVE TOMBSTONES — paths whose latest action in
  * the current segment is a `remove` with `deletionTimestamp` below the
  * retention cutoff — with NO directory listing at all. At 100 TB the
  * cost is O(tombstones in the retained log), not O(every file under
  * the table root); the trade is that untracked files (aborted-write
  * debris the log never saw) are only reclaimed by FULL. Deletion time
  * is the LOGICAL removal time, matching the documented delta contract
  * (files age from when the log removed them, not filesystem mtime).
  * Deletion-vector files of tombstoned data files are reclaimed too,
  * from the superseded adds' descriptors AND the tombstones' own
  * remove.deletionVector (the carrier that survives a checkpoint
  * compacting the add away). Residuals LITE leaves for FULL: the old DV
  * of a path re-added in place with a new DV (no tombstone to age by),
  * and DVs of files whose remove was written WITHOUT a descriptor by a
  * foreign writer and whose add was then checkpointed away.
  */
object VacuumCommand {

  final val RetentionCheckKey =
    "spark.lakehouse.delta.retention_duration_check.enabled"
  final val RetentionPropKey = "delta.deletedFileRetentionDuration"

  def vacuum(spark: SparkSession, tablePath: String,
      retentionHours: Option[Double], dryRun: Boolean,
      mode: String = "FULL"): DataFrame = {
    val lite = mode.equalsIgnoreCase("LITE")
    require(lite || mode.equalsIgnoreCase("FULL"),
      s"unknown VACUUM mode: $mode")

    val snapshot = DeltaTable.forPath(spark, tablePath)
    val propDuration = snapshot.metadata.configuration
      .get(RetentionPropKey).map(parseInterval)
    val checkEnabled =
      spark.conf.getOption(RetentionCheckKey).forall(_.toBoolean)

    val retentionMillis: Long = (propDuration, retentionHours) match {
      case (Some(prop), Some(hours)) =>
        val requested = (hours * 3600 * 1000).toLong
        if (checkEnabled && requested < prop)
          throw new IllegalArgumentException(
            "retention duration is shorter than the minimum required duration")
        requested
      case (Some(prop), None) => prop
      case (None, Some(hours)) => (hours * 3600 * 1000).toLong
      case (None, None) => 7L * 24 * 3600 * 1000
    }
    val cutoff = System.currentTimeMillis() - retentionMillis

    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(new Path(tablePath)).toString
    val rootLen = root.length + 1 // +1 for the '/'

    val unreferenced = if (lite) {
      // LITE: log-derived candidates, zero listing jobs. A path whose
      // LATEST action is a remove can never be live in this segment, so
      // the FULL path's anti-join protection is structurally redundant
      // here. Lengths come from the log's own add actions (add.size is
      // the on-disk length by the write contract).
      import graft.delta.log.Replay
      val tomb = Replay.tombstones(spark, snapshot.segment)
        .select(col("remove.path").as("__rel"),
          col("remove.deletionTimestamp").as("__delTs"))
        .where(col("__delTs").isNotNull && col("__delTs") < lit(cutoff))
      val adds = Replay.actionsDF(spark, snapshot.segment)
        .where(col("add").isNotNull)
      val sizes = adds
        .groupBy(col("add.path").as("__rel"))
        .agg(max(col("add.size")).as("length"))
      // The log permits ABSOLUTE paths/URIs in actions (e.g. remove
      // tombstones pointing at a shallow-clone's source files): only
      // prefix the table root for relative paths, and drop absolutes
      // outside the root — a vacuum must never delete another table's
      // files, and such tombstones are not this table's debris.
      val isAbsolute = col("__rel").rlike("^(?:[A-Za-z][A-Za-z0-9+.\\-]*:|/)")
      val absPath = when(isAbsolute, col("__rel"))
        .otherwise(concat(lit(root + "/"), col("__rel")))
      val dataFiles = tomb.join(sizes, Seq("__rel"), "left")
        .select(absPath.as("path"), col("length"))
        .where(col("path").startsWith(root + "/"))
      // Deletion-vector files of since-removed data files ARE
      // log-tracked (via the superseded adds' deletionVector
      // descriptors) and would otherwise leak until a FULL run.
      // Descriptors can share one storage file via offsets, so the
      // reclaim guard is on the PHYSICAL path: delete a DV file only
      // when no live descriptor resolves to it. Residual (documented):
      // a path re-added in place with a NEW DV leaves its old DV file
      // for FULL — its death has no tombstone timestamp to age by.
      val dvPhysical = udf((st: String, enc: String) =>
        DvBitmap.dvPath(new Path(root),
          graft.delta.log.Actions.DeletionVectorDescriptor(
            st, enc, None, 0, 0L)).toString)
      // dead descriptors come from BOTH sources: superseded ADD actions
      // still in the segment, and the tombstone REMOVE's own descriptor
      // (graft's DV-swap removes carry it; after a checkpoint compacts
      // the superseded add away, the remove is the only carrier left)
      val deadFromAdds = adds
        .where(col("add.deletionVector").isNotNull &&
          col("add.deletionVector.storageType").isin("u", "p"))
        .select(col("add.path").as("__rel"),
          col("add.deletionVector.storageType").as("__st"),
          col("add.deletionVector.pathOrInlineDv").as("__enc"))
        .join(tomb.select("__rel"), Seq("__rel"))
      val deadFromRemoves = Replay.tombstones(spark, snapshot.segment)
        .where(col("remove.deletionTimestamp").isNotNull &&
          col("remove.deletionTimestamp") < lit(cutoff) &&
          col("remove.deletionVector").isNotNull &&
          col("remove.deletionVector.storageType").isin("u", "p"))
        .select(col("remove.path").as("__rel"),
          col("remove.deletionVector.storageType").as("__st"),
          col("remove.deletionVector.pathOrInlineDv").as("__enc"))
      val deadDvs = deadFromAdds.unionByName(deadFromRemoves)
        .select(dvPhysical(col("__st"), col("__enc")).as("path"))
        .distinct()
      // Protection set is PHYSICAL-path wide: writeDvFilePacked packs
      // many descriptors (one per data file) into one storage file, so
      // a storage file is reclaimable only when NO retained reference
      // resolves to it. Retained references are (a) the current
      // snapshot's live descriptors, (b) descriptors on adds whose path
      // has no expired tombstone (live or recently-removed carriers —
      // time travel within the retention window still loads them), and
      // (c) descriptors on removes whose deletionTimestamp is missing
      // (can't age) or at/after the cutoff (RESTORE/time-travel to a
      // retained version still reads that file's DV).
      val liveDvs = snapshot.allFiles
        .where(col("deletionVector").isNotNull &&
          col("deletionVector.storageType").isin("u", "p"))
        .select(dvPhysical(col("deletionVector.storageType"),
          col("deletionVector.pathOrInlineDv")).as("path"))
      val retainedFromAdds = adds
        .where(col("add.deletionVector").isNotNull &&
          col("add.deletionVector.storageType").isin("u", "p"))
        .select(col("add.path").as("__rel"),
          col("add.deletionVector.storageType").as("__st"),
          col("add.deletionVector.pathOrInlineDv").as("__enc"))
        .join(tomb.select("__rel"), Seq("__rel"), "left_anti")
        .select(dvPhysical(col("__st"), col("__enc")).as("path"))
      val retainedFromRemoves = Replay.tombstones(spark, snapshot.segment)
        .where((col("remove.deletionTimestamp").isNull ||
          col("remove.deletionTimestamp") >= lit(cutoff)) &&
          col("remove.deletionVector").isNotNull &&
          col("remove.deletionVector.storageType").isin("u", "p"))
        .select(dvPhysical(col("remove.deletionVector.storageType"),
          col("remove.deletionVector.pathOrInlineDv")).as("path"))
      val protectedDvs = liveDvs
        .unionByName(retainedFromAdds).unionByName(retainedFromRemoves)
      val dvFiles = deadDvs.join(protectedDvs, Seq("path"), "left_anti")
        .where(col("path").startsWith(root + "/"))
        // the descriptor's sizeInBytes is the bitmap, not the file;
        // LITE never stats, so length is unknown
        .select(col("path"), lit(null).cast("long").as("length"))
      dataFiles.unionByName(dvFiles)
        .select(col("path"), col("length"), lit(false).as("is_dir"),
          // uniform shape with the FULL path's listing schema; the
          // log doesn't record mtime and LITE never stats files
          lit(null).cast("timestamp").as("modification_time"))
    } else {
      val listing = DirListing.listRecursive(spark, tablePath)
      val rel = substring(col("path"), rootLen + 1, 1000000)
      val candidates = listing.where(
        !col("is_dir") &&
          col("modification_time") < lit(new java.sql.Timestamp(cutoff)) &&
          // underscore-prefixed paths are metadata and never vacuumed —
          // EXCEPT _change_data: cdc files serve CDF reads only within
          // the retention window, so expired ones are reclaimable (the
          // ecosystem-standard vacuum behavior; without this they
          // accumulate for the table's lifetime)
          (!rel.startsWith("_") || rel.startsWith("_change_data/")))

      // live-file protection (divergence from the reference — see Scaladoc)
      val liveRel = snapshot.allFiles.select(col("path").as("__rel"))
      val liveDvs = snapshot.allFiles
        .where(col("deletionVector").isNotNull &&
          col("deletionVector.storageType") === "u")
        .select(col("deletionVector.pathOrInlineDv").as("__dv"))
        .collect().map(r => DvBitmap.dvPath(new Path(root),
          graft.delta.log.Actions.DeletionVectorDescriptor(
            "u", r.getString(0), None, 0, 0L)).toString)
        .toSeq
      val protectedDf = liveRel
        .withColumn("__abs", concat(lit(root + "/"), col("__rel")))
        .select("__abs")
        .union(spark.createDataset(liveDvs)(
          org.apache.spark.sql.Encoders.STRING).toDF("__abs"))
      candidates.join(protectedDf,
        candidates("path") === protectedDf("__abs"), "left_anti")
    }

    if (dryRun) return unreferenced.limit(1000)

    // distributed delete; metrics accumulated per partition
    val counts = unreferenced.select("path", "length").rdd
      .mapPartitions { it =>
        var n = 0L; var bytes = 0L
        var efs: org.apache.hadoop.fs.FileSystem = null
        it.foreach { r =>
          val p = new Path(r.getString(0))
          if (efs == null) efs = p.getFileSystem(new Configuration())
          if (efs.delete(p, false)) {
            n += 1
            bytes += Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
          }
        }
        Iterator((n, bytes))
      }.collect()
    val (files, bytes) = counts.foldLeft((0L, 0L)) {
      case ((f, b), (fi, bi)) => (f + fi, b + bi)
    }
    CommandResult.metrics(spark,
      "files_deleted" -> files.toString, "bytes_deleted" -> bytes.toString)
  }

  /** Parse `delta.deletedFileRetentionDuration` ("interval N unit[s]"). */
  def parseInterval(s: String): Long = {
    val re = """(?i)\s*(?:interval\s+)?(\d+)\s*(week|day|hour|minute|second)s?\s*""".r
    s match {
      case re(n, unit) =>
        val base = unit.toLowerCase match {
          case "week" => 7L * 24 * 3600 * 1000
          case "day" => 24L * 3600 * 1000
          case "hour" => 3600L * 1000
          case "minute" => 60L * 1000
          case "second" => 1000L
        }
        n.toLong * base
      case _ =>
        throw new IllegalArgumentException(s"Cannot parse interval: '$s'")
    }
  }
}
