package graft.commands

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.delta.DeltaTable
import graft.delta.log.{Actions, CommitWriter, ConflictChecker, LogSegment}
import graft.delta.scan.ColumnMapping

/** ANALYZE TABLE <t> COMPUTE [DELTA] STATISTICS — recollect per-file
  * min/max/nullCount/numRecords stats for live files whose recorded
  * stats do not cover the CURRENTLY selected stats columns, and re-add
  * them (dataChange=false) in one commit.
  *
  * Why it exists at 100 TB: stats are what the skipping engine prunes
  * on, and three legitimate histories leave live files without them —
  * a foreign/minimal writer that recorded none, a table whose
  * `dataSkippingNumIndexedCols` was RAISED after data landed, and a
  * `dataSkippingStatsColumns` change pointing skipping at columns the
  * old writes never indexed. Rewriting the data to regain stats would
  * cost a full table rewrite; ANALYZE reads exactly the uncovered
  * files once (distributed — one Spark aggregation keyed by
  * `_metadata.file_path`), writes zero data bytes, and commits
  * O(uncovered files) of log metadata.
  *
  * Already-covered files are untouched, which makes the command
  * idempotent: a second run qualifies nothing and commits nothing.
  * The reference engine has no maintenance surface at all (its
  * insert_into is `not_impl_err!`, crates/datafusion/src/
  * planner.rs:60-75); this mirrors delta-spark's
  * `ANALYZE TABLE ... COMPUTE DELTA STATISTICS` semantics instead. */
object AnalyzeCommand {

  def run(spark: SparkSession, tablePath: String): DataFrame = {
    val snap = DeltaTable.forPath(spark, tablePath)
    val meta = snap.metadata
    graft.delta.log.ProtocolSupport.assertWritable(
      tablePath, meta, snap.protocol)

    // the coverage TARGET: what a write today would index (physical
    // names on mapped tables, explicit statsColumns override, else the
    // positional cap), narrowed to types that can carry stats at all
    val mode = ColumnMapping.mode(meta)
    val partPhys = CommitWriter.physicalPartitionColumns(meta).toSet
    val physDataSchema = StructType(
      ColumnMapping.toPhysicalSchema(meta.dataSchema, mode)
        .fields.filterNot(f => partPhys.contains(f.name)))
    val target = CommitWriter.statsEligible(
      CommitWriter.selectedStatsColumns(meta), physDataSchema)

    // Coverage is judged on the EXECUTORS so the driver only ever sees
    // the uncovered rows: at 10^7 files with 100 stale, 100 rows come
    // back, not the inventory. (The commit below is O(stale) anyway.)
    val targetNames = target.toIndexedSeq
    val needsStats = org.apache.spark.sql.functions.udf { stats: String =>
      stats == null || {
        // readTree is thread-safe; each executor JVM has its own mapper
        val n = Actions.mapper.readTree(stats)
        val nulls = n.get("nullCount")
        !(n.has("numRecords") && nulls != null &&
          targetNames.forall(nulls.has))
      }
    }
    val total = snap.allFiles.count()
    val stale = snap.allFiles
      .where(needsStats(org.apache.spark.sql.functions.col("stats")))
      .collect()
    if (stale.isEmpty) return metrics(spark, 0, total.toInt)

    val fs = LogSegment.fs(spark, snap.tablePath)
    val qualifiedTable = fs.makeQualified(snap.tablePath)
    def abs(rel: String): Path = {
      val p = new Path(rel)
      if (p.isAbsolute) p else new Path(qualifiedTable, rel)
    }
    val statsByFile = CommitWriter.computeStatsForPaths(spark,
      stale.map(r => abs(r.getAs[String]("path")).toString).toSeq,
      target, physDataSchema)

    val reAdds = stale.map { r =>
      val rel = r.getAs[String]("path")
      val key = abs(rel).toUri.getPath
      Actions.AddFile(
        path = rel,
        partitionValues = Option(r.getAs[Map[String, String]](
          "partitionValues")).getOrElse(Map.empty),
        size = r.getAs[Long]("size"),
        modificationTime = r.getAs[Long]("modificationTime"),
        dataChange = false,
        stats = statsByFile.get(key)
          .orElse(Option(r.getAs[String]("stats"))),
        deletionVector = DmlCommands.dvDescriptorOf(r),
        baseRowId = Option(r.getAs[java.lang.Long]("baseRowId"))
          .map(_.longValue()),
        defaultRowCommitVersion =
          Option(r.getAs[java.lang.Long]("defaultRowCommitVersion"))
            .map(_.longValue()))
    }
    // a re-add supersedes the prior add for the same path in replay;
    // conflict like OPTIMIZE does — rebase freely over appends, fail
    // only if a winner removed/rewrote a file being re-stamped (our
    // re-add would otherwise resurrect it)
    val touched = stale.map(_.getAs[String]("path")).toSet
    val reAddActions = reAdds.map(CommitWriter.addJson).toSeq
    CommitWriter.commitWithRebaseVersioned(spark, tablePath, snap.segment,
      _ => reAddActions, operation = "ANALYZE",
      profile = ConflictChecker.TxnProfile(
        readPaths = touched, removePaths = touched))
    metrics(spark, stale.length, total.toInt - stale.length)
  }

  private def metrics(spark: SparkSession, analyzed: Int,
      alreadyCovered: Int): DataFrame = {
    CommandResult.metrics(spark,
      "files_analyzed" -> analyzed.toString,
      "files_already_covered" -> alreadyCovered.toString)
  }
}
