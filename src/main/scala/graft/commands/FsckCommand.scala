package graft.commands

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.delta.DeltaTable
import graft.delta.log.{CommitWriter, ConflictChecker, LogSegment}
import graft.delta.log.Actions.RemoveFile
import graft.delta.scan.DvBitmap

/** FSCK REPAIR TABLE — drop log entries whose data (or deletion-vector)
  * files are missing from storage, so the table reads again instead of
  * failing on the first lost byte.
  *
  * Out-of-band deletion happens in practice at 100 TB — lifecycle
  * policies, a mis-scoped rm, bucket migrations — and one lost file
  * otherwise poisons every scan that touches its span. The existence
  * sweep runs DISTRIBUTED (the file inventory streams through
  * `mapPartitions` with one FileSystem handle per partition — same
  * shape as VACUUM's delete phase); only the missing entries return to
  * the driver, which is the commit-JSON bound anyway. A file whose DV
  * is missing is removed as a whole: serving its physical rows WITHOUT
  * the mask would resurrect deleted rows, which is strictly worse than
  * losing the survivors.
  *
  * The reference engine has no repair surface (read-only); semantics
  * follow the delta-spark FSCK REPAIR TABLE user contract.
  */
object FsckCommand {

  /** @param dryRun list the missing-file entries without committing.
    * @return DRY RUN: one row per missing entry (path, reason);
    *         repair: the metrics frame (entries_removed). */
  def repair(spark: SparkSession, tablePath: String,
      dryRun: Boolean): DataFrame = {
    val snap = DeltaTable.forPath(spark, tablePath)
    if (!dryRun)
      // CDF tables repair too (producesCdc): the change data for rows
      // whose bytes are GONE is unrecoverable by definition — a CDF
      // span crossing the loss is broken either way, and refusing the
      // one command whose purpose is recovery would help nobody
      graft.delta.log.ProtocolSupport.assertWritable(
        tablePath, snap.metadata, snap.protocol, dataChangingRemoves = true,
        producesCdc = true)
    val root = LogSegment.fs(spark, snap.tablePath)
      .makeQualified(snap.tablePath).toString

    // (relPath, dv fields) for every live entry; the existence probes
    // run where the rows are. Paths may be ABSOLUTE (shallow-cloned
    // tables reference the source's files) — resolve like the scan does
    val inv = snap.allFiles
      .select(col("path"),
        col("deletionVector.storageType").as("__dvst"),
        col("deletionVector.pathOrInlineDv").as("__dvp"))
    val rootStr = root
    val missing: Seq[(String, String)] = inv.rdd.mapPartitions { it =>
      var fs: org.apache.hadoop.fs.FileSystem = null
      val table = new Path(rootStr)
      it.flatMap { r =>
        val rel = r.getAs[String]("path")
        val relPath = new Path(rel)
        val abs = if (relPath.isAbsolute) relPath else new Path(table, rel)
        if (fs == null) fs = abs.getFileSystem(new Configuration())
        val dataMissing = !fs.exists(abs)
        // inline DVs ("i") live in the descriptor itself — nothing on
        // disk to probe
        val dvMissing = !dataMissing &&
          Option(r.getAs[String]("__dvst")).filter(_ != "i").exists { st =>
            val dv = graft.delta.log.Actions.DeletionVectorDescriptor(
              st, r.getAs[String]("__dvp"), None, 0, 0L)
            !fs.exists(DvBitmap.dvPath(table, dv))
          }
        if (dataMissing)
          Iterator((r.getAs[String]("path"), "data file missing"))
        else if (dvMissing)
          Iterator((r.getAs[String]("path"), "deletion vector missing"))
        else Iterator.empty
      }
    }.collect().toSeq

    if (dryRun)
      return CommandResult.result(spark, dryRunSchema,
        missing.map { case (p, why) => Row(p, why) }: _*)
    if (missing.isEmpty) return metrics(spark, 0)

    val now = System.currentTimeMillis()
    val removes = missing.map { case (p, _) =>
      CommitWriter.removeJson(RemoveFile(p, Some(now), dataChange = true))
    }
    val paths = missing.map(_._1).toSet
    CommitWriter.commitWithRebaseVersioned(spark, tablePath, snap.segment,
      _ => removes, "FSCK",
      profile = ConflictChecker.TxnProfile(
        readPaths = paths, removePaths = paths, dependsOnNewData = true))
    metrics(spark, missing.size)
  }

  val dryRunSchema: StructType = StructType(Seq(
    StructField("path", StringType), StructField("reason", StringType)))

  private def metrics(spark: SparkSession, removed: Int): DataFrame = {
    CommandResult.metrics(spark,
      "operation" -> "FSCK", "entries_removed" -> removed.toString)
  }
}
