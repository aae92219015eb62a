package graft.delta

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.delta.log.{Actions, CommitWriter, LogSegment}
import graft.delta.scan.DvBitmap

/** Round-2 regression coverage for checkpoint completeness (SetTransaction
  * + tombstone retention per the Delta protocol), RESTORE deletion-vector
  * fidelity, and UTC timestamp stats. */
class CheckpointSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_cp_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private lazy val region = spark.read.parquet(s"$sf/region.parquet")

  test("SetTransaction survives a checkpoint: appendIfAbsent stays exactly-once") {
    val p = tmp("txn")
    CommitWriter.createTable(spark, region.limit(1), p)
    assert(CommitWriter.appendIfAbsent(spark, region.limit(2), p,
      appId = "stream-a", txnVersion = 5L).isDefined)
    val n1 = DeltaTable.forPath(spark, p).read.count()

    CommitWriter.checkpoint(spark, p)
    // the segment now starts at the checkpoint; txn state must come from it
    val snap = DeltaTable.forPath(spark, p)
    assert(snap.segment.checkpointVersion.isDefined)
    assert(snap.segment.commitFiles.isEmpty)

    assert(CommitWriter.latestTxnVersion(spark, p, "stream-a").contains(5L),
      "txn state lost at checkpoint")
    // replay of an already-committed batch is a no-op (no duplicate data)
    assert(CommitWriter.appendIfAbsent(spark, region.limit(2), p,
      appId = "stream-a", txnVersion = 5L).isEmpty)
    assert(DeltaTable.forPath(spark, p).read.count() == n1)
    // a genuinely newer batch still commits
    assert(CommitWriter.appendIfAbsent(spark, region.limit(1), p,
      appId = "stream-a", txnVersion = 6L).isDefined)
  }

  test("checkpoint retains unexpired remove tombstones") {
    val p = tmp("tombstone")
    CommitWriter.createTable(spark, region.limit(2).repartition(1), p)
    CommitWriter.append(spark, region.limit(1).repartition(1), p)
    val files = DeltaTable.forPath(spark, p).allFiles
      .orderBy("path").collect().map(_.getAs[String]("path"))
    assert(files.length == 2)
    CommitWriter.commitRemoves(spark, p, Seq(files.head))
    CommitWriter.checkpoint(spark, p)

    val cp = spark.read.schema(Actions.logSchema).parquet(
      new Path(new Path(p, "_delta_log"),
        LogSegment.checkpointFileName(2L)).toString)
    val removes = cp.where(col("remove").isNotNull)
      .select("remove.path").collect().map(_.getString(0))
    assert(removes.toSeq == Seq(files.head),
      s"checkpoint should carry the unexpired tombstone, got ${removes.toSeq}")
    // the tombstone is metadata only: the live read excludes that file
    assert(DeltaTable.forPath(spark, p).allFiles.count() == 1)
  }

  test("RESTORE re-applies the target version's deletion vector") {
    val p = tmp("restore_dv")
    CommitWriter.createTable(spark,
      region.repartition(1).sortWithinPartitions("r_regionkey"), p)
    val n = region.count()
    val add0 = DeltaTable.forPath(spark, p).allFiles.collect().head
    val rel = add0.getAs[String]("path")
    val fs = LogSegment.fs(spark, new Path(p))

    def dvCommit(version: Long, deletedRows: Seq[Long]): Unit = {
      val dv = DvBitmap.writeDvFile(fs, new Path(p), deletedRows)
      CommitWriter.commit(spark, p, version, Seq(
        CommitWriter.removeJson(Actions.RemoveFile(
          rel, Some(System.currentTimeMillis()), dataChange = false)),
        CommitWriter.addJson(Actions.AddFile(
          rel, Map.empty, add0.getAs[Long]("size"),
          add0.getAs[Long]("modificationTime"), dataChange = false,
          stats = Option(add0.getAs[String]("stats")),
          deletionVector = Some(dv)))), "DELETE")
    }
    dvCommit(1L, Seq(0L))      // v1: one row masked
    dvCommit(2L, Seq(0L, 2L))  // v2: two rows masked
    assert(DeltaTable.forPath(spark, p).read.count() == n - 2)

    // v1 and v2 have identical path sets; only the DV differs — restore
    // must re-add the file with v1's DV, not leave v2's in place
    graft.commands.HistoryCommand.restore(spark, p, 1L)
    assert(DeltaTable.forPath(spark, p).read.count() == n - 1,
      "restore left the newer deletion vector in place")

    // and restoring to v0 drops the DV entirely
    graft.commands.HistoryCommand.restore(spark, p, 0L)
    assert(DeltaTable.forPath(spark, p).read.count() == n)
  }

  test("timestamp stats are UTC ISO-8601 and skip correctly across zones") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val p = tmp("ts_stats")
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row(1L, java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-01T00:30:00Z"))))
    rows.add(Row(2L, java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-01T10:00:00Z"))))
    val df = spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType))))
    CommitWriter.createTable(spark, df.repartition(1), p)

    val stats = DeltaTable.forPath(spark, p).allFiles
      .collect().head.getAs[String]("stats")
    assert(stats.contains("2024-03-01T00:30:00Z"),
      s"timestamp stats must be UTC ISO-8601 with Z, got: $stats")

    // skipping with a non-UTC session zone must not mis-prune: the file's
    // max is 10:00Z; a predicate matching 10:00Z must keep the file
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val snap = DeltaTable.forPath(spark, p)
      val got = snap.readWhere(
        col("ts") >= lit(java.sql.Timestamp.from(
          java.time.Instant.parse("2024-03-01T09:00:00Z")))).count()
      assert(got == 1, "zone-shifted stats pruned a matching file")
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
  }

  test("v2 (UUID-named) checkpoint with sidecars replays natively") {
    val p = tmp("v2cp")
    CommitWriter.createTable(spark,
      region.filter(col("r_regionkey") < 3), p) // v0
    CommitWriter.append(spark,
      region.filter(col("r_regionkey") >= 3), p) // v1
    val snap1 = DeltaTable.forPath(spark, p)
    val fs = LogSegment.fs(spark, new Path(p))
    val logDir = new Path(p, "_delta_log")

    // sidecar: the live add actions as a single parquet file under
    // _delta_log/_sidecars/<uuid>.parquet
    val sidecarName = s"${java.util.UUID.randomUUID()}.parquet"
    val staging = new Path(p, ".v2cp_staging")
    spark.read.schema(Actions.logSchema)
      .json(new Path(logDir, "*.json").toString)
      .where(col("add").isNotNull)
      .select(Actions.logSchema.fieldNames.map(col).toIndexedSeq: _*)
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = fs.listStatus(staging).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.mkdirs(new Path(logDir, "_sidecars"))
    assert(fs.rename(part, new Path(new Path(logDir, "_sidecars"), sidecarName)))
    fs.delete(staging, true)

    // top-level manifest as a JSON v2 checkpoint: protocol (declaring
    // v2Checkpoint), metaData, checkpointMetadata, sidecar reference
    val proto = Actions.Protocol(3, 7,
      Some(Seq("v2Checkpoint")), Some(Seq("v2Checkpoint")))
    val manifest = Seq(
      CommitWriter.protocolJson(proto),
      CommitWriter.metadataJson(snap1.metadata),
      """{"checkpointMetadata":{"version":1}}""",
      s"""{"sidecar":{"path":"$sidecarName","sizeInBytes":1,"modificationTime":0}}"""
    ).mkString("\n")
    val cpName = f"${1L}%020d.checkpoint.${java.util.UUID.randomUUID()}.json"
    val out = fs.create(new Path(logDir, cpName), false)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()

    // drop the commit JSONs: replay must now come from the v2 checkpoint
    fs.delete(new Path(logDir, f"${0L}%020d.json"), false)
    fs.delete(new Path(logDir, f"${1L}%020d.json"), false)

    val snap = DeltaTable.forPath(spark, p)
    assert(snap.segment.checkpointIsV2)
    assert(snap.version == 1)
    assert(snap.protocol.readerFeatures.get.contains("v2Checkpoint"))
    assert(snap.read.orderBy("r_regionkey").collect().toSeq ==
      region.orderBy("r_regionkey").collect().toSeq)

    // appends remain allowed on a v2 table, and its checkpoint follows
    // the declared format: a v2 manifest, never a classic file
    CommitWriter.append(spark, region.limit(1), p) // v2
    assert(DeltaTable.forPath(spark, p).read.count() == region.count() + 1)
    assert(CommitWriter.checkpoint(spark, p) == 2L)
    assert(artifactsAt(p, 2L) == Set("v2"))
    assert(DeltaTable.forPath(spark, p).segment.checkpointIsV2)
  }

  /** The kinds of checkpoint artifact at `version` in the log: "v2"
    * (UUID-named manifest), "single" or "multi" (classic). */
  private def artifactsAt(p: String, version: Long): Set[String] = {
    val fs = LogSegment.fs(spark, new Path(p))
    fs.listStatus(new Path(p, "_delta_log")).map(_.getPath.getName)
      .filter(n => LogSegment.checkpointArtifactVersion(n).contains(version))
      .map { n =>
        if (LogSegment.v2ManifestVersion(n).isDefined) "v2"
        else if (n == LogSegment.checkpointFileName(version)) "single"
        else "multi"
      }.toSet
  }

  private def lastCheckpoint(p: String) = {
    val fs = LogSegment.fs(spark, new Path(p))
    val in = fs.open(new Path(new Path(p, "_delta_log"), "_last_checkpoint"))
    try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
    finally in.close()
  }

  test("native v2 checkpoint writes manifest + sidecars that replay") {
    val p = tmp("v2cp_native")
    CommitWriter.createTable(spark,
      region.filter(col("r_regionkey") < 3), p) // v0
    // while the table does not declare the feature, readers would not
    // know to look for sidecars: the checkpoint is classic
    CommitWriter.checkpoint(spark, p)
    assert(artifactsAt(p, 0L) == Set("single"))
    assert(!LogSegment.fs(spark, new Path(p))
      .exists(new Path(p, "_delta_log/_sidecars")))

    CommitWriter.append(spark,
      region.filter(col("r_regionkey") >= 3), p) // v1
    val proto = Actions.Protocol(3, 7,
      Some(Seq("v2Checkpoint")), Some(Seq("v2Checkpoint")))
    CommitWriter.commit(spark, p, 2L,
      Seq(CommitWriter.protocolJson(proto)), "UPGRADE PROTOCOL") // v2
    // idempotent exactly-once txn marker must survive into the checkpoint
    CommitWriter.appendIfAbsent(spark, region.limit(1), p,
      appId = "writer-v2", txnVersion = 9L) // v3

    val v = CommitWriter.checkpoint(spark, p, parts = 2)
    assert(v == 3L)
    assert(artifactsAt(p, 3L) == Set("v2"))
    val fs = LogSegment.fs(spark, new Path(p))
    val logDir = new Path(p, "_delta_log")
    // drop every commit JSON: replay must come from the v2 checkpoint
    (0L to 3L).foreach(i =>
      fs.delete(new Path(logDir, f"$i%020d.json"), false))

    val snap = DeltaTable.forPath(spark, p)
    assert(snap.segment.checkpointIsV2)
    assert(snap.version == 3)
    assert(snap.protocol.writerFeatures.get.contains("v2Checkpoint"))
    assert(snap.read.count() == region.count() + 1)
    assert(CommitWriter.latestTxnVersion(spark, p, "writer-v2")
      .contains(9L), "txn state lost through the v2 checkpoint")
    // the sidecars referenced by the manifest exist and the manifest
    // carries no file actions itself
    val manifestFile = fs.listStatus(logDir).map(_.getPath.getName)
      .filter(_.matches("""\d{20}\.checkpoint\.[0-9a-f-]{36}\.parquet"""))
    assert(manifestFile.length == 1)
    val top = spark.read.schema(Actions.v2CheckpointSchema)
      .parquet(new Path(logDir, manifestFile.head).toString)
    assert(top.where(col("add").isNotNull).count() == 0)
    assert(top.where(col("sidecar").isNotNull).count() == 2)
    assert(top.where(col("checkpointMetadata.version") === 3L).count() == 1)
    // a multi-part request on this table still writes no classic parts
    CommitWriter.checkpoint(spark, p, parts = 2)
    assert(artifactsAt(p, 3L) == Set("v2"))
  }

  test("tiny/skewed table writes fewer sidecars than asked, still exact") {
    // repartition(n) is free to produce fewer than n non-empty parts;
    // the checkpoint must report what actually landed — manifest
    // references, on-disk sidecars, and the _last_checkpoint size all
    // from the written artifact, never from the requested count
    val p = tmp("v2cp_skew")
    CommitWriter.createTable(spark, region.limit(1), p) // v0: ONE row
    val proto = Actions.Protocol(3, 7,
      Some(Seq("v2Checkpoint")), Some(Seq("v2Checkpoint")))
    CommitWriter.commit(spark, p, 1L,
      Seq(CommitWriter.protocolJson(proto)), "UPGRADE PROTOCOL") // v1
    CommitWriter.checkpoint(spark, p, parts = 4)

    val fs = LogSegment.fs(spark, new Path(p))
    val logDir = new Path(p, "_delta_log")
    val onDisk = fs.listStatus(new Path(logDir, "_sidecars"))
      .map(_.getPath.getName).count(_.endsWith(".parquet"))
    assert(onDisk < 4, s"a 1-row table cannot need 4 sidecars: $onDisk")
    val manifestFile = fs.listStatus(logDir).map(_.getPath.getName)
      .filter(_.matches("""\d{20}\.checkpoint\.[0-9a-f-]{36}\.parquet"""))
    assert(manifestFile.length == 1)
    val top = spark.read.schema(Actions.v2CheckpointSchema)
      .parquet(new Path(logDir, manifestFile.head).toString)
    val referenced = top.where(col("sidecar").isNotNull).count()
    assert(referenced == onDisk.toLong,
      "manifest references must match the sidecars actually written")
    // _last_checkpoint.size = every action row in the artifact
    val declaredSize = lastCheckpoint(p).get("size").asLong()
    val sidecarRows = spark.read.schema(Actions.logSchema)
      .parquet(new Path(logDir, "_sidecars").toString + "/*.parquet")
      .count()
    assert(declaredSize == sidecarRows + top.count(),
      s"size field $declaredSize != actual artifact rows")
    // replay from the checkpoint alone stays exact
    (0L to 1L).foreach(i =>
      fs.delete(new Path(logDir, f"$i%020d.json"), false))
    assert(DeltaTable.forPath(spark, p).read.count() == 1L)
  }

  test("_last_checkpoint.size counts the action rows of a classic checkpoint") {
    val p = tmp("classic_size")
    CommitWriter.createTable(spark, region.repartition(3), p) // v0
    CommitWriter.appendIfAbsent(spark, region.limit(2), p,
      appId = "writer-size", txnVersion = 1L) // v1
    val logDir = new Path(p, "_delta_log")
    def rows(files: Seq[Path]): Long = spark.read
      .schema(Actions.logSchema).parquet(files.map(_.toString): _*).count()

    CommitWriter.checkpoint(spark, p) // single part at v1
    assert(artifactsAt(p, 1L) == Set("single"))
    val single = lastCheckpoint(p)
    assert(single.get("version").asLong() == 1L)
    assert(!single.has("parts"))
    assert(single.get("size").asLong() ==
      rows(Seq(new Path(logDir, LogSegment.checkpointFileName(1L)))))

    CommitWriter.append(spark, region.repartition(2), p) // v2
    CommitWriter.checkpoint(spark, p, parts = 2)
    assert(artifactsAt(p, 2L) == Set("multi"))
    val fs = LogSegment.fs(spark, new Path(p))
    val partFiles = fs.listStatus(logDir).map(_.getPath)
      .filter(f => f.getName.startsWith(f"${2L}%020d.checkpoint."))
      .toSeq
    val multi = lastCheckpoint(p)
    assert(multi.get("parts").asInt() == partFiles.length)
    assert(partFiles.length == 2)
    assert(multi.get("size").asLong() == rows(partFiles))
    // and the multi-part checkpoint alone replays the table
    (0L to 2L).foreach(i =>
      fs.delete(new Path(logDir, LogSegment.commitFileName(i)), false))
    assert(DeltaTable.forPath(spark, p).read.count() ==
      2 * region.count() + 2)
  }

  test("checkpoint sweeps stale commit temp files on a v2Checkpoint table") {
    val p = tmp("v2cp_sweep")
    CommitWriter.createTable(spark, region.limit(1), p) // v0
    val proto = Actions.Protocol(3, 7,
      Some(Seq("v2Checkpoint")), Some(Seq("v2Checkpoint")))
    CommitWriter.commit(spark, p, 1L,
      Seq(CommitWriter.protocolJson(proto)), "UPGRADE PROTOCOL") // v1
    // what a writer that crashed between its temp write and the
    // hard-link publish leaves behind: one old, one in flight
    val fs = LogSegment.fs(spark, new Path(p))
    val logDir = new Path(p, "_delta_log")
    def temp(name: String): Path = {
      val t = new Path(logDir, name)
      val out = fs.create(t, false)
      try out.write("{}".getBytes("UTF-8")) finally out.close()
      t
    }
    val stale = temp(".00000000000000000002.json.0badf00d.tmp")
    fs.setTimes(stale, System.currentTimeMillis() - 2 * 3600 * 1000, -1)
    val fresh = temp(".00000000000000000002.json.00c0ffee.tmp")

    CommitWriter.checkpoint(spark, p)
    assert(artifactsAt(p, 1L) == Set("v2"))
    assert(!fs.exists(stale), "a stale temp file outlived the checkpoint")
    assert(fs.exists(fresh), "an in-flight temp file was swept")
  }

  test("v2 checkpoint with a PARQUET manifest replays too") {
    val p = tmp("v2cp_parq")
    CommitWriter.createTable(spark, region, p) // v0
    val snap0 = DeltaTable.forPath(spark, p)
    val fs = LogSegment.fs(spark, new Path(p))
    val logDir = new Path(p, "_delta_log")

    val sidecarName = s"${java.util.UUID.randomUUID()}.parquet"
    val staging = new Path(p, ".v2cp_staging")
    def moveSinglePart(target: Path): Unit = {
      val part = fs.listStatus(staging).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      assert(fs.rename(part, target))
      fs.delete(staging, true)
    }
    spark.read.schema(Actions.logSchema)
      .json(new Path(logDir, "*.json").toString)
      .where(col("add").isNotNull)
      .select(Actions.logSchema.fieldNames.map(col).toIndexedSeq: _*)
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    fs.mkdirs(new Path(logDir, "_sidecars"))
    moveSinglePart(new Path(new Path(logDir, "_sidecars"), sidecarName))

    val proto = Actions.Protocol(3, 7,
      Some(Seq("v2Checkpoint")), Some(Seq("v2Checkpoint")))
    val manifestLines = Seq(
      CommitWriter.protocolJson(proto),
      CommitWriter.metadataJson(snap0.metadata),
      """{"checkpointMetadata":{"version":0}}""",
      s"""{"sidecar":{"path":"$sidecarName","sizeInBytes":1,"modificationTime":0}}""")
    import spark.implicits._
    spark.read.schema(Actions.v2CheckpointSchema)
      .json(spark.createDataset(manifestLines))
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    moveSinglePart(new Path(logDir,
      f"${0L}%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet"))
    fs.delete(new Path(logDir, f"${0L}%020d.json"), false)

    val snap = DeltaTable.forPath(spark, p)
    assert(snap.segment.checkpointIsV2)
    assert(snap.read.orderBy("r_regionkey").collect().toSeq ==
      region.orderBy("r_regionkey").collect().toSeq)
  }

  test("recreating a table at the same path invalidates the replay cache") {
    val p = tmp("cache_identity")
    CommitWriter.createTable(spark, region.limit(3), p)
    assert(DeltaTable.forPath(spark, p).read.count() == 3)
    // destroy and recreate at the same path with the same version numbers
    val fs = LogSegment.fs(spark, new Path(p))
    fs.delete(new Path(p), true)
    CommitWriter.createTable(spark, region.limit(1), p)
    assert(DeltaTable.forPath(spark, p).read.count() == 1,
      "stale cached file list served for a recreated table")
  }

  test("auto-checkpoint fires every delta.checkpointInterval commits") {
    val p = tmp("autocp")
    CommitWriter.createTable(spark, region.limit(1), p,
      configuration = Map(CommitWriter.CheckpointIntervalPropKey -> "3"))
    CommitWriter.append(spark, region.limit(1), p) // v1
    CommitWriter.append(spark, region.limit(1), p) // v2
    assert(LogSegment.forTable(spark, new Path(p))
      .checkpointVersion.isEmpty, "checkpointed before the interval")
    CommitWriter.append(spark, region.limit(1), p) // v3 -> auto
    val seg = LogSegment.forTable(spark, new Path(p))
    assert(seg.checkpointVersion.contains(3L),
      "no auto checkpoint at the configured interval")
    assert(DeltaTable.forPath(spark, p).read.count() == 4)
    // next lap: v4, v5 plain; v6 checkpoints again
    CommitWriter.append(spark, region.limit(1), p) // v4
    CommitWriter.append(spark, region.limit(1), p) // v5
    assert(LogSegment.forTable(spark, new Path(p))
      .checkpointVersion.contains(3L))
    CommitWriter.append(spark, region.limit(1), p) // v6 -> auto
    assert(LogSegment.forTable(spark, new Path(p))
      .checkpointVersion.contains(6L))
    assert(DeltaTable.forPath(spark, p).read.count() == 7)
  }

  test("auto-checkpoint on a v2Checkpoint table writes sidecar format") {
    val p = tmp("autocp_v2")
    CommitWriter.createTable(spark, region.limit(1), p,
      configuration = Map(CommitWriter.CheckpointIntervalPropKey -> "2"))
    val proto = Actions.Protocol(3, 7,
      Some(Seq("v2Checkpoint")), Some(Seq("v2Checkpoint")))
    CommitWriter.commit(spark, p, 1L,
      Seq(CommitWriter.protocolJson(proto)), "UPGRADE PROTOCOL") // v1
    CommitWriter.append(spark, region.limit(1), p) // v2 -> auto v2 cp
    val seg = LogSegment.forTable(spark, new Path(p))
    assert(seg.checkpointVersion.contains(2L),
      "no auto checkpoint on the v2 table")
    assert(seg.checkpointIsV2,
      "auto checkpoint on a v2Checkpoint table must be sidecar format")
    assert(DeltaTable.forPath(spark, p).read.count() == 2)
  }

  test("auto-checkpoint part count scales with the live-file count") {
    import graft.delta.log.CommitWriter.autoCheckpointParts
    assert(autoCheckpointParts(0L) == 1)
    assert(autoCheckpointParts(99999L) == 1)
    assert(autoCheckpointParts(100000L) == 2)
    assert(autoCheckpointParts(1000000L) == 11)
    assert(autoCheckpointParts(100000000L) == 64) // capped
  }

  test("interval property flipped mid-life takes effect from that commit") {
    val p = tmp("autocp_flip")
    CommitWriter.createTable(spark, region.limit(1), p) // default 10
    val meta = DeltaTable.forPath(spark, p).metadata
    CommitWriter.commitMetadata(spark, p, meta.copy(configuration =
      meta.configuration + (CommitWriter.CheckpointIntervalPropKey -> "2")))
    // that metadata commit is v1; v2 is the first on-interval commit
    CommitWriter.append(spark, region.limit(1), p) // v2 -> auto
    assert(LogSegment.forTable(spark, new Path(p))
      .checkpointVersion.contains(2L),
      "mid-life interval change not honored")
  }
}
