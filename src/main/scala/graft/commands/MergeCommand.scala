package graft.commands

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.delta.DeltaTable
import graft.delta.log.{Actions, CommitWriter}
import graft.delta.scan.DeltaScan

/** MERGE (upsert): matched target rows are replaced by source rows,
  * unmatched source rows are inserted — the standard
  * WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *
  * shape (beyond-parity: the reference has no write path) — optionally
  * extended with WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE
  * (full-sync: target rows whose keys the source no longer carries are
  * deleted, wholesale or by predicate).
  *
  * Copy-on-write at file granularity, the way it must work at 100 TB:
  * the scan keeps row provenance, a key join identifies ONLY the files
  * that contain matched (or BY-SOURCE-deletable) rows, and exactly
  * those files are rewritten (their untouched rows preserved) together
  * with the full source; everything else never moves. One commit;
  * history stays time-travelable. The BY SOURCE clause has one
  * inherent extra cost: absence from the source cannot be proven from
  * file stats, so its qualification pass scans the whole target.
  *
  * On tables with `delta.enableDeletionVectors=true` the matched (and
  * deletable) rows are masked with deletion vectors instead and only
  * the source rows are written — no data file is rewritten at all
  * (merge-on-read, the same machinery as [[DmlCommands]]).
  */
object MergeCommand {

  /** @param keys  equality merge keys; source must be unique per key */
  def upsert(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String]): DataFrame =
    merge(spark, tablePath, source, keys, bySourceDelete = None)

  /** MERGE full-sync: upsert + WHEN NOT MATCHED BY SOURCE [AND
    * `deleteCondition`] THEN DELETE — the mirror shape (dimension
    * sync, CDC reconciliation). After the commit every source row is
    * present and target rows absent from the source are deleted (all
    * of them when `deleteCondition` is None). The predicate may
    * reference target columns, optionally qualified as `t.<col>` (the
    * alias the SQL form's ON clause uses). */
  def sync(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String], deleteCondition: Option[Column] = None)
      : DataFrame =
    // a null condition value (e.g. NULL-valued comparison) keeps the
    // row — SQL WHERE semantics, made explicit once here
    merge(spark, tablePath, source, keys,
      bySourceDelete = Some(coalesce(
        deleteCondition.getOrElse(lit(true)), lit(false))))

  /** Shared MERGE core: upsert IS sync without a BY SOURCE clause, so
    * both run through one implementation (one commit protocol, one
    * conflict profile, one CDC builder) parameterized by the optional
    * delete condition. */
  private def merge(spark: SparkSession, tablePath: String,
      source: DataFrame, keys: Seq[String],
      bySourceDelete: Option[Column]): DataFrame = {
    val snap = DeltaTable.forPath(spark, tablePath)
    val cdfOn = graft.delta.log.ProtocolSupport.cdfEnabled(snap.metadata)
    graft.delta.log.ProtocolSupport.assertWritable(
      tablePath, snap.metadata, snap.protocol, dataChangingRemoves = true,
      producesCdc = cdfOn)
    require(graft.delta.log.IdentityColumns.of(snap.metadata).isEmpty,
      "MERGE into identity-column tables is not supported: inserted " +
        "source rows would carry explicit identity values, which " +
        "GENERATED ALWAYS forbids")
    require(keys.nonEmpty, "MERGE requires at least one key column")
    require(keys.forall(source.columns.contains),
      s"source is missing key columns: ${keys.filterNot(source.columns.contains)}")
    // materialize once: the source is read by the dup check, the match
    // join, and the rewrite — a nondeterministic source (limit, sample,
    // now()) must not produce three different row sets
    val src = source.localCheckpoint()
    val dupes = src.groupBy(keys.map(col): _*).count()
      .where(col("count") > 1).limit(1).count()
    require(dupes == 0, "MERGE source has duplicate keys")

    val srcKeys = src.select(keys.map(col): _*).distinct()
    val matchedMark = "__graft_matched"
    val srcKeysMarked = srcKeys.withColumn(matchedMark, lit(1))
    // rows the commit must touch: matched rows (the source version
    // replaces them), plus — under a BY SOURCE clause — deletable
    // rows, marked in ONE pass (a semi-join plus an anti-join would
    // scan the target twice). The target is aliased `t` so qualified
    // predicates from the SQL form resolve.
    def touched(df: DataFrame): DataFrame = bySourceDelete match {
      case None => df.join(srcKeys, keys.toIndexedSeq, "left_semi")
      case Some(cond) => df.alias("t")
        .join(srcKeysMarked, keys.toIndexedSeq, "left")
        .where(col(matchedMark).isNotNull || cond)
        .drop(matchedMark)
    }
    val params = mergeParams(keys) ++
      bySourceDelete.map(_ => "notMatchedBySourceDelete" -> "true").toMap

    // merge-on-read: touched target rows become deletion-vector
    // entries (no file rewrite), source rows land as new files — the
    // untouched rows of affected files never move, which is the whole
    // point at 100 TB (a MERGE touching 1% of each file's rows would
    // otherwise rewrite 100% of the affected bytes)
    if (DmlCommands.dvEnabled(snap)) {
      val (written, info) = DmlCommands.buildDvs(spark, tablePath, snap,
        touched)
      val adds = CommitWriter.writeTableFiles(spark,
        graft.delta.log.Constraints.enforce(
          graft.delta.log.GeneratedColumns.recompute(
            src.select(snap.schema.fieldNames.map(col).toIndexedSeq: _*),
            snap.metadata),
          snap.metadata), tablePath, snap.metadata)
      val (actions, masked, fullyRemoved, _) =
        DmlCommands.maskActions(written, info)
      val protoUpgrade = graft.delta.log.ProtocolSupport
        .withDeletionVectors(snap.protocol)
        .map(CommitWriter.protocolJson).toSeq
      // a MERGE's outcome depends on every row its keys could have
      // joined, so any concurrent data add conflicts (no predicate to
      // prune winner adds by partition); winners touching the masked
      // files are delete/read / delete/delete conflicts
      val touchedPaths = written.map(w => info(w.fkey).relPath).toSet
      val cdc = cdcActions(spark, snap, tablePath, src, keys,
        bySourceDelete, cdfOn)
      // source rows are new rows: row-tracked tables stamp fresh ids
      // (masked pre-images keep theirs through maskActions)
      CommitWriter.commitWithRebaseVersioned(spark, tablePath, snap.segment,
        parent => protoUpgrade ++ actions ++ graft.delta.log.RowTracking
          .addActions(spark, snap.metadata, adds, parent) ++ cdc,
        operation = "MERGE",
        profile = graft.delta.log.ConflictChecker.TxnProfile(
          readPaths = touchedPaths, removePaths = touchedPaths,
          dependsOnNewData = true),
        operationParameters = params)
      return CommandResult.metrics(spark,
        "files_rewritten" -> "0", "files_added" -> adds.size.toString,
        "files_dv_masked" -> masked.toString,
        "files_fully_removed" -> fullyRemoved.toString,
        "source_rows" -> src.count().toString)
    }

    require(!graft.delta.log.RowTracking.enabled(snap.metadata),
      "copy-on-write MERGE on a row-tracked table would move surviving " +
        "rows and reassign their ids — set " +
        "delta.enableDeletionVectors=true (merge-on-read preserves row " +
        "ids: masked files never move)")
    val target = DeltaScan.buildWithFileKey(snap)

    // files containing at least one touched row (collected: bounded by
    // the touch footprint, not the table)
    val affected = touched(target)
      .select(DeltaScan.FileKeyColumn).distinct()
      .collect().map(_.getString(0)).toSet

    val affectedRel = DmlCommands.affectedRelPaths(spark, snap, affected)

    // rows to rewrite: untouched rows of affected files + all of source
    val keptFromAffected =
      if (affected.isEmpty)
        source.limit(0).select(snap.schema.fieldNames.map(col): _*)
      else bySourceDelete match {
        case None => DeltaScan.whereFileKeyIn(target, affected)
          .join(srcKeys, keys.toIndexedSeq, "left_anti")
          .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)
        case Some(cond) => DeltaScan.whereFileKeyIn(target, affected)
          .alias("t")
          .join(srcKeysMarked, keys.toIndexedSeq, "left")
          .where(col(matchedMark).isNull && !cond)
          .drop(matchedMark)
          .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)
      }
    val rewritten = keptFromAffected
      .unionByName(src.select(snap.schema.fieldNames.map(col).toIndexedSeq: _*))

    // merged-in source rows must honor the table's CHECK constraints;
    // generated columns are recomputed from the post-merge base columns
    val adds = CommitWriter.writeTableFiles(spark,
      graft.delta.log.Constraints.enforce(
        graft.delta.log.GeneratedColumns.recompute(rewritten, snap.metadata),
        snap.metadata), tablePath, snap.metadata)
    val now = System.currentTimeMillis()
    val removes = affectedRel.map(p => CommitWriter.removeJson(
      Actions.RemoveFile(p, Some(now), dataChange = true)))
    val rewriteActions = removes.toIndexedSeq ++
      adds.map(CommitWriter.addJson) ++
      cdcActions(spark, snap, tablePath, src, keys, bySourceDelete, cdfOn)
    CommitWriter.commitWithRebaseVersioned(spark, tablePath, snap.segment,
      _ => rewriteActions,
      operation = "MERGE",
      profile = graft.delta.log.ConflictChecker.TxnProfile(
        readPaths = affectedRel.toSet, removePaths = affectedRel.toSet,
        dependsOnNewData = true),
      operationParameters = params)

    CommandResult.metrics(spark,
      "files_rewritten" -> affectedRel.length.toString,
      "files_added" -> adds.size.toString,
      "source_rows" -> src.count().toString)
  }

  /** MERGE ... WHEN MATCHED THEN DELETE (no insert clause): remove
    * every target row whose keys appear in `source` — the
    * retention/GDPR "forget these keys" pattern, where the key set is
    * itself a table and a literal IN-list would not scale. Same
    * file-granular machinery as upsert: DV tables mask the matched
    * rows in place (no data file moves — works on column-mapped and
    * row-tracked tables for the same reason DV DELETE does); CoW
    * tables rewrite only the affected files WITHOUT their matched
    * rows. */
  def deleteMatched(spark: SparkSession, tablePath: String,
      source: DataFrame, keys: Seq[String]): DataFrame = {
    val snap = DeltaTable.forPath(spark, tablePath)
    val cdfOn = graft.delta.log.ProtocolSupport.cdfEnabled(snap.metadata)
    graft.delta.log.ProtocolSupport.assertWritable(
      tablePath, snap.metadata, snap.protocol, dataChangingRemoves = true,
      producesCdc = cdfOn)
    require(keys.nonEmpty, "MERGE requires at least one key column")
    require(keys.forall(source.columns.contains),
      s"source is missing key columns: " +
        keys.filterNot(source.columns.contains))
    val srcKeys = source.select(keys.map(col): _*).distinct()
      .localCheckpoint()

    def deleteCdc(): Seq[String] =
      if (!cdfOn) Seq.empty
      else {
        val pre = snap.read.join(srcKeys, keys, "left_semi")
          .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)
          .withColumn("_change_type", lit("delete"))
        CommitWriter.writeCdcFiles(spark, pre, tablePath,
          snap.metadata).map(CommitWriter.cdcJson)
      }

    if (DmlCommands.dvEnabled(snap)) {
      val (written, info) = DmlCommands.buildDvs(spark, tablePath, snap,
        _.join(srcKeys, keys, "left_semi"))
      if (written.isEmpty) {
        // nothing matched: no commit (see the CoW branch note)
        return CommandResult.metrics(spark,
          "files_rewritten" -> "0", "files_dv_masked" -> "0")
      }
      val (actions, masked, fullyRemoved, _) =
        DmlCommands.maskActions(written, info)
      val protoUpgrade = graft.delta.log.ProtocolSupport
        .withDeletionVectors(snap.protocol)
        .map(CommitWriter.protocolJson).toSeq
      val touched = written.map(w => info(w.fkey).relPath).toSet
      val dvActions = protoUpgrade ++ actions ++ deleteCdc()
      CommitWriter.commitWithRebaseVersioned(spark, tablePath, snap.segment,
        _ => dvActions,
        operation = "MERGE",
        profile = graft.delta.log.ConflictChecker.TxnProfile(
          readPaths = touched, removePaths = touched,
          dependsOnNewData = true),
        operationParameters = mergeParams(keys) +
          ("matchedDelete" -> "true"))
      return CommandResult.metrics(spark,
        "files_rewritten" -> "0", "files_dv_masked" -> masked.toString,
        "files_fully_removed" -> fullyRemoved.toString)
    }

    require(!graft.delta.log.RowTracking.enabled(snap.metadata),
      "copy-on-write MERGE DELETE on a row-tracked table would move " +
        "surviving rows and reassign their ids — set " +
        "delta.enableDeletionVectors=true")
    val target = DeltaScan.buildWithFileKey(snap)
    val affected = target.join(srcKeys, keys, "left_semi")
      .select(DeltaScan.FileKeyColumn).distinct()
      .collect().map(_.getString(0)).toSet
    if (affected.isEmpty) {
      // nothing matched: no commit at all (a scheduled retention job
      // re-running the same key set must not churn versions, fire
      // auto-checkpoints, or emit empty CDC commits)
      return CommandResult.metrics(spark,
        "files_rewritten" -> "0", "files_added" -> "0")
    }
    val affectedRel = DmlCommands.affectedRelPaths(spark, snap, affected)
    // survivors of affected files (unchanged rows — no constraint or
    // generated-column recomputation needed, nothing was modified)
    val adds = CommitWriter.writeTableFiles(spark,
      DeltaScan.whereFileKeyIn(target, affected)
        .join(srcKeys, keys, "left_anti")
        .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*),
      tablePath, snap.metadata)
    val now = System.currentTimeMillis()
    val removes = affectedRel.map(p => CommitWriter.removeJson(
      Actions.RemoveFile(p, Some(now), dataChange = true)))
    val rewriteActions = removes.toIndexedSeq ++
      adds.map(CommitWriter.addJson) ++ deleteCdc()
    CommitWriter.commitWithRebaseVersioned(spark, tablePath, snap.segment,
      _ => rewriteActions,
      operation = "MERGE",
      profile = graft.delta.log.ConflictChecker.TxnProfile(
        readPaths = affectedRel.toSet, removePaths = affectedRel.toSet,
        dependsOnNewData = true),
      operationParameters = mergeParams(keys) +
        ("matchedDelete" -> "true"))
    CommandResult.metrics(spark,
      "files_rewritten" -> affectedRel.length.toString,
      "files_added" -> adds.size.toString)
  }

  /** commitInfo.operationParameters for a MERGE: the human-readable
    * predicate (what DESCRIBE HISTORY ecosystems show) plus the
    * machine-readable key list the DERIVED change feed uses to pair a
    * non-CDF table's update pre/post images (CommitRangeScan). */
  private def mergeParams(keys: Seq[String]): Map[String, String] = Map(
    "predicate" -> keys.map(k => s"target.$k = source.$k").mkString(" AND "),
    "mergeKeys" -> keys.mkString(","))

  /** Write-time CDC for MERGE — the case that makes write-time CDC
    * worth having: the writer KNOWS which source rows matched (update)
    * vs not (insert), a split no log-derived diff can reconstruct.
    * Pre-images are the matched live target rows; post-images are the
    * matched source rows (generated columns recomputed, as written);
    * unmatched source rows are inserts; under a BY SOURCE clause the
    * deletable target rows add delete pre-images. One extra semi-join
    * pass over the match footprint — the cost
    * `delta.enableChangeDataFeed` opts into. */
  private def cdcActions(spark: SparkSession,
      snap: graft.delta.Snapshot, tablePath: String, src: DataFrame,
      keys: Seq[String], bySourceDelete: Option[Column],
      cdfOn: Boolean): Seq[String] =
    if (!cdfOn) Seq.empty
    else {
      val schemaCols = snap.schema.fieldNames.toIndexedSeq
      val srcProj = src.select(schemaCols.map(col): _*)
      val srcKeys = src.select(keys.map(col): _*).distinct()
      val pre = snap.read.join(srcKeys, keys.toIndexedSeq, "left_semi")
        .select(schemaCols.map(col): _*)
      val matchedKeys = pre.select(keys.map(col): _*).distinct()
      def written(df: DataFrame) = graft.delta.log.GeneratedColumns
        .recompute(df, snap.metadata)
      val upsertRows = pre
        .withColumn("_change_type", lit("update_preimage"))
        .unionByName(
          written(srcProj.join(matchedKeys, keys.toIndexedSeq, "left_semi"))
            .withColumn("_change_type", lit("update_postimage")))
        .unionByName(
          written(srcProj.join(matchedKeys, keys.toIndexedSeq, "left_anti"))
            .withColumn("_change_type", lit("insert")))
      val changeRows = bySourceDelete match {
        case None => upsertRows
        case Some(cond) => upsertRows.unionByName(
          snap.read.alias("t")
            .join(srcKeys, keys.toIndexedSeq, "left_anti")
            .where(cond)
            .select(schemaCols.map(col): _*)
            .withColumn("_change_type", lit("delete")))
      }
      CommitWriter.writeCdcFiles(spark, changeRows, tablePath,
        snap.metadata).map(CommitWriter.cdcJson)
    }
}
