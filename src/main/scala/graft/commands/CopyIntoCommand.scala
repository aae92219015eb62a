package graft.commands

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.delta.DeltaTable
import graft.delta.log.{Actions, CommitWriter, ConflictChecker, LogSegment,
  Replay}

/** COPY INTO — idempotent bulk file ingestion: load a directory of
  * parquet files into a Delta table such that RE-RUNNING the command
  * never duplicates rows. Each source file's identity is recorded as a
  * SetTransaction (`graft.copyInto:<absolute path>`) in the SAME
  * commit as its rows, so exactly-once holds under crashes and
  * retries through the protocol's own txn replay — no side-channel
  * state directory. A re-run lists the source, diffs against the
  * recorded txns, and ingests only the new files; FORCE re-ingests
  * everything (the txn identities re-commit at a higher version).
  *
  * Scale shape: the loaded-file set is one metadata read (txn actions
  * fold into checkpoints, so the replay cost is the log's, not the
  * history's), the diff is driver-side over O(source files) names —
  * the same bound as the commit JSON — and the data write is one
  * normal distributed append of the new files only.
  */
object CopyIntoCommand {

  private final val AppIdPrefix = "graft.copyInto:"

  def copyInto(spark: SparkSession, tablePath: String, sourceDir: String,
      force: Boolean = false): DataFrame = {
    val snap = DeltaTable.forPath(spark, tablePath)
    val meta = snap.metadata
    graft.delta.log.ProtocolSupport.assertWritable(
      tablePath, meta, snap.protocol)

    val src = new Path(sourceDir)
    val sfs = LogSegment.fs(spark, src)
    val sources = sfs.listStatus(src).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => sfs.makeQualified(st.getPath).toString)
      .sorted
    require(sources.nonEmpty,
      s"COPY INTO found no parquet files under $sourceDir")

    // recorded at the read snapshot — both the skip set (unless FORCE)
    // and the BASELINE for the rebase clash check below: only txns
    // that appear AFTER this snapshot signal a racing COPY INTO
    val loadedAtSnap: Set[String] = Replay.actionsDF(spark, snap.segment)
      .where(col("txn.appId").startsWith(AppIdPrefix))
      .select(col("txn.appId")).distinct()
      .collect().map(_.getString(0).stripPrefix(AppIdPrefix)).toSet
    val fresh =
      if (force) sources else sources.filterNot(loadedAtSnap)
    if (fresh.isEmpty) return metrics(spark, 0, 0L)

    require(graft.delta.log.IdentityColumns.of(meta).isEmpty,
      "COPY INTO into an identity-column table is not supported (a lost " +
        "commit race could not blindly re-land the allocated values); " +
        "use append")
    val w = CommitWriter.stageWrite(spark, spark.read.parquet(fresh: _*),
      tablePath, meta, mergeSchema = false, "COPY INTO")
    val rows = w.adds.map(a => Actions.numRecords(a.stats).getOrElse(0L)).sum

    val now = System.currentTimeMillis()
    val txns = fresh.map(p => CommitWriter.txnJson(
      Actions.SetTransaction(AppIdPrefix + p, now, Some(now))))
    def actionsFor(parent: LogSegment): Seq[String] = {
      // a rebase means another writer landed meanwhile; if it was a
      // racing COPY INTO of any of the SAME files, re-landing ours
      // would double-ingest — fail loudly instead (a re-run diffs
      // against the now-recorded txns and becomes a clean no-op)
      if (parent ne snap.segment) {
        val nowLoaded = Replay.actionsDF(spark, parent)
          .where(col("txn.appId").startsWith(AppIdPrefix))
          .select(col("txn.appId")).distinct()
          .collect().map(_.getString(0).stripPrefix(AppIdPrefix)).toSet
        // only NEWLY-recorded identities clash — historical ones are
        // expected (a FORCE re-ingest always has them)
        val clash = fresh.filter(f => nowLoaded(f) && !loadedAtSnap(f))
        if (clash.nonEmpty) throw new IllegalStateException(
          s"concurrent COPY INTO already ingested ${clash.size} of " +
            s"these source files (e.g. ${clash.head}) — re-run COPY " +
            "INTO; it will skip them")
      }
      txns ++ w.actions(spark, parent)
    }
    CommitWriter.commitWithRebaseVersioned(spark, tablePath, snap.segment,
      actionsFor, operation = "COPY INTO",
      profile = ConflictChecker.TxnProfile(),
      operationParameters = Map("source" -> sourceDir,
        "numSourceFiles" -> fresh.size.toString))
    metrics(spark, fresh.size, rows)
  }

  private def metrics(spark: SparkSession, files: Int,
      rows: Long): DataFrame = {
    CommandResult.metrics(spark,
      "operation" -> "COPY INTO", "files_loaded" -> files.toString,
      "rows_loaded" -> rows.toString)
  }
}
