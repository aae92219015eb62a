package graft.commands

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.delta.DeltaTable
import graft.delta.log.{CommitWriter, ConflictChecker, Constraints,
  ColumnDefaults, GeneratedColumns, IdentityColumns, ProtocolSupport,
  RowTracking}
import graft.delta.log.Actions.RemoveFile
import graft.delta.scan.{ColumnMapping, DeltaScan}

/** Selective overwrite — the ecosystem's `replaceWhere` write option:
  * ONE atomic commit deletes every row matching `condition` and
  * inserts `df`, after verifying each incoming row satisfies the
  * predicate (the contract that makes "rebuild this slice" idempotent
  * and race-safe — a writer cannot leak rows outside its declared
  * scope).
  *
  * Scale shape, by predicate kind:
  *  - PARTITION predicates (the backfill staple, "replace day X"):
  *    the remove set is decided from the file inventory's
  *    partitionValues — the replaced partitions are never READ, so
  *    rebuilding one partition of a 100 TB table costs the new data's
  *    write plus one commit, not a scan. Works on every table variant
  *    (DV, column-mapped, row-tracked): whole files drop, no row moves.
  *  - DATA-COLUMN predicates: falls back to the DML machinery —
  *    merge-on-read tables mask matched rows with deletion vectors
  *    (no data file rewritten), copy-on-write tables rewrite only the
  *    partially-matching files, keeping their non-matching rows.
  *
  * The reference engine has no write path at all
  * (crates/datafusion/src/table_provider/delta/mod.rs `insert_into` is
  * `not_impl_err!`); semantics follow the delta-spark user contract and
  * the delta-io PROTOCOL.md commit rules.
  */
object ReplaceWhereCommand {

  /** Replace the `condition` slice of the table with `df`.
    * @return the DML-style metrics frame (operation, files_removed,
    *         files_added). */
  def replaceWhere(spark: SparkSession, df: DataFrame, tablePath: String,
      condition: Column): DataFrame = {
    val snap = DeltaTable.forPath(spark, tablePath)
    val meta = snap.metadata
    val cdfOn = ProtocolSupport.cdfEnabled(meta)
    ProtocolSupport.assertWritable(tablePath, meta, snap.protocol,
      dataChangingRemoves = true, producesCdc = cdfOn)

    // Incoming rows complete like any append (identity / defaults /
    // generated columns), then pass the predicate guard inline: the
    // first row OUTSIDE the replaced scope aborts the write job before
    // any commit — same raise_error Filter shape as CHECK constraints,
    // one boolean per row on the satisfied path.
    val completed0 = GeneratedColumns.complete(
      ColumnDefaults.complete(IdentityColumns.assign(df, meta), meta), meta)
    CommitWriter.validateWriteSchema(completed0, meta, "replaceWhere")
    // CDF tables consume `completed` TWICE (data files + the insert
    // change rows). Identity assignment and arbitrary incoming plans
    // are not re-execution-stable (monotonically_increasing_id,
    // unordered limits), so pin ONE materialization — otherwise the
    // authoritative feed could advertise rows that differ from what
    // the table actually contains. The extra pass is the usual cost
    // the CDF property opts into.
    val completed =
      if (cdfOn) completed0.localCheckpoint() else completed0
    val rowJson = to_json(struct(completed.columns.map(col).toIndexedSeq: _*))
    val guarded = completed.where(
      coalesce(condition.cast("boolean"), lit(false)) ||
        raise_error(concat(
          lit("replaceWhere: incoming row does not satisfy the " +
            "predicate: "), rowJson)).cast("boolean"))
    val newAdds = CommitWriter.writeTableFiles(spark,
      Constraints.enforce(guarded, meta), tablePath, meta)

    // Remove set + survivor rewrites, by predicate kind.
    val partSet = snap.partitionColumns.map(_.toLowerCase).toSet
    val refs = OptimizeCommand.referencedNames(spark, snap.schema, condition)
    val partitionOnly = refs.forall(n => partSet(n.toLowerCase))

    var protoUpgrade = Seq.empty[String]
    val now = System.currentTimeMillis()
    val (removeActions: Seq[String], survivorAdds, removedRel: Set[String]) =
      if (partitionOnly) {
        // metadata-only qualification: all rows of a file share its
        // partitionValues, so the file matches iff the predicate is
        // TRUE on them (NULL/false keeps the file — DELETE semantics).
        // Column-mapped tables key partitionValues by PHYSICAL name.
        val physOf: String => String =
          if (ColumnMapping.mode(meta) == "none") identity
          else {
            val m = meta.dataSchema.fields
              .map(f => f.name -> ColumnMapping.physicalName(f)).toMap
            n => m.getOrElse(n, n)
          }
        val qual = snap.allFiles
          .select(Seq(col("path"), col("deletionVector")) ++
            snap.partitionColumns.map(c =>
              element_at(col("partitionValues"), physOf(c))
                .cast(snap.schema(c).dataType).as(c)): _*)
          .where(condition)
          .select("path", "deletionVector")
          .collect()
        val removes = qual.toIndexedSeq.map { r =>
          CommitWriter.removeJson(RemoveFile(r.getAs[String]("path"),
            Some(now), dataChange = true,
            deletionVector = DmlCommands.dvDescriptorOf(r)))
        }
        (removes, Seq.empty, qual.map(_.getAs[String]("path")).toSet)
      } else if (DmlCommands.dvEnabled(snap)) {
        // merge-on-read: matched rows become deletion-vector masks in
        // the same commit as the new data — no existing file rewritten
        val (written, info) =
          DmlCommands.buildDvs(spark, tablePath, snap, _.where(condition))
        val (actions, _, _, _) = DmlCommands.maskActions(written, info)
        protoUpgrade = ProtocolSupport.withDeletionVectors(snap.protocol)
          .map(CommitWriter.protocolJson).toSeq
        (actions, Seq.empty, written.map(w => info(w.fkey).relPath).toSet)
      } else {
        // copy-on-write: rewrite partially-matching files keeping
        // their non-matching rows (same constraints as DELETE). The
        // scan yields LOGICAL rows; toPhysicalNames at the write
        // boundary handles column-mapped tables like any append.
        require(!RowTracking.enabled(meta),
          "copy-on-write replaceWhere on a row-tracked table would move " +
            "surviving rows and reassign their ids — set " +
            "delta.enableDeletionVectors=true or use a partition predicate")
        val target = DeltaScan.buildWithFileKey(snap)
        val affected = target.where(condition)
          .select(DeltaScan.FileKeyColumn).distinct()
          .collect().map(_.getString(0)).toSet
        val affectedRel = DmlCommands.affectedRelPaths(spark, snap, affected)
        val survivors = DeltaScan.whereFileKeyIn(target, affected)
          .where(!coalesce(condition.cast("boolean"), lit(false)))
          .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)
        val adds = CommitWriter.writeTableFiles(spark, survivors, tablePath,
          meta)
        val removes = affectedRel.map(p => CommitWriter.removeJson(
          RemoveFile(p, Some(now), dataChange = true)))
        (removes, adds, affectedRel.toSet)
      }

    // Write-time CDC (authoritative when present — CommitRangeScan
    // skips the derived diff): matched old rows delete, incoming rows
    // insert. The read of the matched rows prunes to the replaced
    // slice; the extra pass is the cost the CDF property opts into.
    val cdcActions = if (!cdfOn) Seq.empty[String] else {
      val deleted = snap.read
        .where(coalesce(condition.cast("boolean"), lit(false)))
        .withColumn("_change_type", lit("delete"))
      val insertedFull = snap.schema.fields.foldLeft(completed)((d, f) =>
        if (d.columns.exists(_.equalsIgnoreCase(f.name))) d
        else d.withColumn(f.name, lit(null).cast(f.dataType)))
        .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)
        .withColumn("_change_type", lit("insert"))
      CommitWriter.writeCdcFiles(spark, deleted.unionByName(insertedFull),
        tablePath, snap.metadata).map(CommitWriter.cdcJson)
    }

    // One commit. Row-tracked tables stamp fresh ids on the incoming
    // files per attempt (survivor rewrites only exist on the CoW path,
    // which refuses row tracking — the concat is safe); an identity
    // write makes a single attempt.
    val identityUpdate = IdentityColumns.advance(meta, newAdds)
    CommitWriter.commitWithRebaseVersioned(spark, tablePath, snap.segment,
      parent => protoUpgrade ++
        identityUpdate.map(CommitWriter.metadataJson).toSeq ++
        removeActions ++
        RowTracking.addActions(spark, meta, newAdds ++ survivorAdds, parent) ++
        cdcActions,
      operation = "WRITE",
      profile = ConflictChecker.TxnProfile(
        readPaths = removedRel, removePaths = removedRel,
        dependsOnNewData = true, predicate = Some(condition),
        schema = snap.schema, partitionColumns = snap.partitionColumns),
      operationParameters = DmlCommands.predicateParam(condition),
      allocatesIdentity = identityUpdate.isDefined)
    CommandResult.metrics(spark, "operation" -> "REPLACE WHERE",
      "files_removed" -> removedRel.size.toString,
      "files_added" -> (newAdds.size + survivorAdds.size).toString)
  }
}
