package graft.commands

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.delta.DeltaTable
import graft.delta.log.{Actions, CommitWriter, LogSegment}

/** Shallow clone: a new Delta table whose add entries reference the
  * source table's data files by ABSOLUTE path — zero data copied, full
  * independent history from version 0 (commits, schema changes, DML on
  * the clone never touch the source). Standard lakehouse table-copy
  * primitive; exercises the protocol's absolute-path add form.
  */
object CloneCommand {

  /** @param versionAsOf clone the source AS OF that version (time-travel
    *   clone — the snapshot-for-experiments shape); latest when None. */
  def shallowClone(spark: SparkSession, sourcePath: String,
      targetPath: String, versionAsOf: Option[Long] = None): DataFrame = {
    val source = DeltaTable.forPath(spark, sourcePath, versionAsOf)
    val fs = LogSegment.fs(spark, source.tablePath)
    val qualified = fs.makeQualified(source.tablePath)

    // The clone's version-0 commit must name every source file, so the
    // serialized action lines are inherently O(files) — but nothing
    // else needs to be: rows stream through toLocalIterator (one
    // partition resident at a time) straight into their JSON lines,
    // instead of materializing the whole inventory as Rows AND AddFiles
    // AND lines simultaneously.
    var fileCount = 0L
    val addLines = Seq.newBuilder[String]
    source.allFiles.toLocalIterator().forEachRemaining { r =>
      val rel = r.getAs[String]("path")
      val abs = new Path(qualified, rel).toString
      fileCount += 1
      addLines += CommitWriter.addJson(Actions.AddFile(
        path = abs,
        partitionValues = Option(r.getAs[Map[String, String]]("partitionValues"))
          .getOrElse(Map.empty),
        size = r.getAs[Long]("size"),
        modificationTime = r.getAs[Long]("modificationTime"),
        dataChange = true,
        stats = Option(r.getAs[String]("stats")),
        deletionVector = DmlCommands.dvDescriptorOf(r).map { dv =>
          // relative ("u") DV references must become absolute too
          if (dv.storageType == "u")
            dv.copy(storageType = "p",
              pathOrInlineDv = graft.delta.scan.DvBitmap
                .dvPath(qualified, dv).toString)
          else dv
        },
        // a clone shares the source's physical files, so its rows keep
        // their identities; the high-water-mark domain rides along below
        baseRowId = Option(r.getAs[java.lang.Long]("baseRowId"))
          .map(_.longValue()),
        defaultRowCommitVersion =
          Option(r.getAs[java.lang.Long]("defaultRowCommitVersion"))
            .map(_.longValue())))
    }

    val meta = source.metadata.copy(
      id = java.util.UUID.randomUUID().toString,
      createdTime = Some(System.currentTimeMillis()))
    val domainActions = graft.delta.log.Replay
      .domainMetadata(spark, source.segment).values.toSeq
      .sortBy(_.domain).map(CommitWriter.domainMetadataJson)
    CommitWriter.commit(spark, targetPath, 0L,
      Seq(CommitWriter.protocolJson(source.protocol),
        CommitWriter.metadataJson(meta)) ++ domainActions ++
        addLines.result(),
      operation = s"CLONE $sourcePath")

    CommandResult.metrics(spark,
      "source_version" -> source.version.toString,
      "files_referenced" -> fileCount.toString)
  }
}
