package graft.commands

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.delta.DeltaTable
import graft.delta.log.{Actions, CommitWriter, Replay}

/** ALTER TABLE ... DROP FEATURE — protocol downgrade per the
  * table-features spec's removal rules: a feature may leave the
  * protocol only when the CURRENT version carries no trace of it
  * (otherwise a downgraded writer would corrupt what it no longer
  * understands), and dropping a READER-side feature additionally
  * requires TRUNCATE HISTORY, because historical versions still
  * carry traces a downgraded reader would misread. TRUNCATE HISTORY
  * here checkpoints the tip and sweeps the pre-checkpoint log
  * immediately (retention 0) — the ecosystem's 24 h double-commit
  * dance exists to protect concurrent readers on shared storage;
  * with the history gone, time travel below the drop names the
  * earliest reconstructable version, exactly like the retention
  * sweep.
  *
  * Per-feature trace validators are the core: each supported feature
  * knows what "no trace" means (property off, no DV on any live file,
  * no field metadata, no domain). Unknown or rewrite-requiring
  * features (columnMapping, v2Checkpoint) refuse by name rather than
  * downgrade unsafely.
  */
object DropFeatureCommand {

  /** The downgrade commit cannot blind-rebase (a racing DML could have
    * re-introduced traces the validators just cleared), so a lost race
    * re-runs the WHOLE attempt — trace validation, history truncation,
    * commit — against the new tip. The truncation is idempotent and
    * was explicitly requested, so re-running it is never a loss. */
  def dropFeature(spark: SparkSession, tablePath: String, feature: String,
      truncateHistory: Boolean): DataFrame = {
    var attempts = 0
    while (true) {
      try return attemptDrop(spark, tablePath, feature, truncateHistory)
      catch {
        case e: CommitWriter.ConcurrentCommitException =>
          attempts += 1
          if (attempts > 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def attemptDrop(spark: SparkSession, tablePath: String,
      feature: String, truncateHistory: Boolean): DataFrame = {
    val snap = DeltaTable.forPath(spark, tablePath)
    val p = snap.protocol
    val meta = snap.metadata
    val writers = p.writerFeatures.getOrElse(Nil).toSet
    val readers = p.readerFeatures.getOrElse(Nil).toSet
    require(p.minWriterVersion >= 7 && writers.contains(feature),
      s"feature '$feature' is not declared as a writer table feature " +
        s"of $tablePath (protocol $p) — only explicitly-declared " +
        "features can be dropped")

    def prop(key: String) =
      meta.configuration.get(key).exists(_.equalsIgnoreCase("true"))
    def fieldMeta(key: String): Boolean = {
      def walk(st: StructType): Boolean = st.fields.exists(f =>
        f.metadata.contains(key) || (f.dataType match {
          case s: StructType => walk(s)
          case _ => false
        }))
      walk(meta.dataSchema)
    }
    def refuse(why: String): Nothing = throw new IllegalStateException(
      s"cannot drop feature '$feature' from $tablePath: $why")

    // trace validation + any tombstone actions the drop must carry
    val extraActions: Seq[String] = feature match {
      case "deletionVectors" =>
        if (prop("delta.enableDeletionVectors"))
          refuse("delta.enableDeletionVectors is still true — unset it first")
        val dvFiles = snap.allFiles
          .where(col("deletionVector").isNotNull).count()
        if (dvFiles > 0)
          refuse(s"$dvFiles live file(s) still carry deletion vectors — " +
            "rewrite them first (OPTIMIZE rewrites masked files)")
        Nil
      case "typeWidening" =>
        if (fieldMeta("delta.typeChanges"))
          refuse("schema fields still record delta.typeChanges — old " +
            "files retain their narrow physical type")
        Nil
      case "inCommitTimestamp" =>
        if (prop("delta.enableInCommitTimestamps"))
          refuse("delta.enableInCommitTimestamps is still true")
        Nil
      case "changeDataFeed" =>
        if (prop("delta.enableChangeDataFeed"))
          refuse("delta.enableChangeDataFeed is still true")
        Nil
      case "appendOnly" =>
        if (prop("delta.appendOnly")) refuse("delta.appendOnly is still true")
        Nil
      case "checkConstraints" =>
        val cs = meta.configuration.keys
          .filter(_.startsWith("delta.constraints.")).toSeq.sorted
        if (cs.nonEmpty) refuse(s"constraints still declared: " +
          cs.mkString(", "))
        Nil
      case "invariants" =>
        if (fieldMeta("delta.invariants"))
          refuse("schema fields still declare invariants")
        Nil
      case "allowColumnDefaults" =>
        if (fieldMeta(graft.delta.log.ColumnDefaults.MetadataKey))
          refuse("columns still declare DEFAULT values — DROP DEFAULT first")
        Nil
      case "generatedColumns" =>
        if (fieldMeta("delta.generationExpression"))
          refuse("schema fields still declare generation expressions")
        Nil
      case "identityColumns" =>
        if (fieldMeta("delta.identity.start"))
          refuse("schema fields still declare identity columns")
        Nil
      case "rowTracking" =>
        if (prop(graft.delta.log.RowTracking.PropKey))
          refuse(s"${graft.delta.log.RowTracking.PropKey} is still true")
        // the id high-water-mark domain goes with the feature
        Replay.domainMetadata(spark, snap.segment)
          .get(graft.delta.log.RowTracking.Domain).toSeq.map(_ =>
            CommitWriter.domainMetadataJson(Actions.DomainMetadata(
              graft.delta.log.RowTracking.Domain, "{}", removed = true)))
      case "clustering" =>
        val cols = graft.delta.log.Clustering
          .columnsOf(spark, snap.segment)
        if (cols.nonEmpty)
          refuse(s"clustering columns still recorded " +
            s"(${cols.mkString(", ")}) — ALTER TABLE ... CLUSTER BY NONE " +
            "first")
        Replay.domainMetadata(spark, snap.segment)
          .get(graft.delta.log.Clustering.Domain).toSeq.map(_ =>
            CommitWriter.domainMetadataJson(Actions.DomainMetadata(
              graft.delta.log.Clustering.Domain, "{}", removed = true)))
      case "domainMetadata" =>
        val live = Replay.domainMetadata(spark, snap.segment).keys.toSeq.sorted
        if (live.nonEmpty)
          refuse(s"metadata domains still present: ${live.mkString(", ")}")
        Nil
      case other =>
        refuse(s"'$other' removal is not supported by this engine " +
          "(columnMapping and v2Checkpoint would require data/checkpoint " +
          "rewrites; unknown features cannot be validated traceless)")
    }

    // reader-side features additionally need the HISTORY clean: a
    // downgraded reader time-traveling below the drop would misread
    // the old traces. An explicitly requested truncation is honored
    // for writer-only features too — the user asked for it.
    require(truncateHistory || !readers.contains(feature),
      s"'$feature' is a reader feature: historical versions still " +
        "carry its traces. Re-run with TRUNCATE HISTORY to checkpoint " +
        "the tip and drop the pre-checkpoint log")
    if (truncateHistory) {
      CommitWriter.checkpoint(spark, tablePath)
      CommitWriter.cleanupExpiredLogs(spark, tablePath,
        retentionMsOverride = Some(0L))
    }

    val newProto = p.copy(
      readerFeatures = p.readerFeatures.map(_.filterNot(_ == feature)),
      writerFeatures = p.writerFeatures.map(_.filterNot(_ == feature)))
    CommitWriter.commit(spark, tablePath, snap.version + 1,
      CommitWriter.protocolJson(newProto) +: extraActions,
      operation = "DROP FEATURE",
      operationParameters = Map("featureName" -> feature))

    CommandResult.metrics(spark,
      "dropped_feature" -> feature, "version" -> (snap.version + 1).toString)
  }
}
