package graft.delta

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.delta.log.{Actions, CommitWriter, LogSegment, Replay}

/** Incremental snapshot refresh (`Snapshot::try_new_from` semantics):
  * re-resolving a hot table replays only the new commit tail on top of
  * the cached reconciled state — and the incremental result is
  * action-for-action identical to a cold full replay. */
class IncrementalReplaySpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_incr_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private lazy val region = spark.read.parquet(s"$sf/region.parquet")

  /** A table whose checkpoint (at v1) is followed by a commit that
    * carries neither metaData nor protocol, so resolving it needs the
    * checkpoint's P&M. */
  private def checkpointedTable(p: String, df: DataFrame = region): String = {
    CommitWriter.createTable(spark, df.limit(2), p)
    CommitWriter.append(spark, df.limit(3), p)
    CommitWriter.checkpoint(spark, p)
    CommitWriter.append(spark, df.limit(1), p)
    p
  }

  /** Spark jobs `body` launches from this thread, counted by a listener.
    * A marker job after `body` shares the listener queue, so once the
    * marker is seen every earlier job event has been delivered. */
  private def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"probe-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(s"$group-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-end"), "listener never saw the marker job")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("refresh after append/delete replays only the tail (and matches full)") {
    val p = tmp("a")
    CommitWriter.createTable(spark, region.filter(col("r_regionkey") < 3), p)
    DeltaTable.forPath(spark, p).read.count() // populate the cache

    // mutate: append, then remove one file, then re-add content
    CommitWriter.append(spark, region.filter(col("r_regionkey") >= 3), p)
    val f = DeltaTable.forPath(spark, p) // this lookup is the incremental one
    Replay.ReplayCounters.reset()
    val snap = DeltaTable.forPath(spark, p)
    val liveIncremental = snap.allFiles
      .select("path", "size", "commit_version").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(Replay.ReplayCounters.full.get() == 0,
      "refresh fell back to a full replay")
    assert(Replay.ReplayCounters.incremental.get() +
      Replay.ReplayCounters.hit.get() >= 1)

    // cold replay must agree exactly (fresh cache via a distinct path
    // trick is not possible — instead force a full replay by resetting
    // the cached state through a remove+readd cycle and compare counts)
    assert(snap.read.count() == region.count())
    val first = snap.allFiles.select("path").orderBy("path")
      .limit(1).collect()(0).getString(0)
    CommitWriter.commitRemoves(spark, p, Seq(first))
    Replay.ReplayCounters.reset()
    val afterDelete = DeltaTable.forPath(spark, p)
    val liveAfter = afterDelete.allFiles.select("path").collect()
      .map(_.getString(0)).sorted
    assert(Replay.ReplayCounters.incremental.get() >= 1 &&
      Replay.ReplayCounters.full.get() == 0,
      "delete refresh was not incremental")
    assert(!liveAfter.contains(first))
    assert(liveIncremental.map(_._1).toSet -- liveAfter.toSet == Set(first))
  }

  test("repeated same-version reads are cache hits (no replay at all)") {
    val p = tmp("h")
    CommitWriter.createTable(spark, region, p)
    DeltaTable.forPath(spark, p).read.count()
    Replay.ReplayCounters.reset()
    DeltaTable.forPath(spark, p).allFiles.count()
    DeltaTable.forPath(spark, p).allFiles.count()
    assert(Replay.ReplayCounters.hit.get() >= 2)
    assert(Replay.ReplayCounters.full.get() == 0)
    assert(Replay.ReplayCounters.incremental.get() == 0)
  }

  test("spark.lakehouse.delta.enable_caching=false bypasses the cache") {
    val p = checkpointedTable(tmp("nc"))
    val want = DeltaTable.forPath(spark, p).read.count()
    spark.conf.set("spark.lakehouse.delta.enable_caching", "false")
    try {
      Replay.ReplayCounters.reset()
      assert(DeltaTable.forPath(spark, p).read.count() == want)
      DeltaTable.forPath(spark, p).allFiles.count()
      // every read re-replays; nothing is served from or stored to the
      // caches (the reference's lakehouse.delta.enable_caching=false)
      assert(Replay.ReplayCounters.hit.get() == 0)
      assert(Replay.ReplayCounters.incremental.get() == 0)
      assert(Replay.ReplayCounters.full.get() >= 2)
      // the checkpoint memo is bypassed too: each resolve re-reads the
      // checkpoint's P&M, in one query
      assert(Replay.ReplayCounters.checkpointHit.get() == 0)
      assert(Replay.ReplayCounters.checkpointLoad.get() >= 2)
      val seg = LogSegment.forTable(spark, new Path(p))
      assert(jobsRunBy(Replay.metadataAndProtocol(spark, seg)) == 1)
    } finally spark.conf.unset("spark.lakehouse.delta.enable_caching")
    // cache resumes (and repopulates) once re-enabled
    DeltaTable.forPath(spark, p).allFiles.count()
    Replay.ReplayCounters.reset()
    DeltaTable.forPath(spark, p).allFiles.count()
    assert(Replay.ReplayCounters.hit.get() >= 1)
    assert(Replay.ReplayCounters.checkpointHit.get() >= 1)
    assert(Replay.ReplayCounters.checkpointLoad.get() == 0)
  }

  test("checkpoint P&M is memoized: repeated latest reads run no Spark job") {
    val p = checkpointedTable(tmp("pm"))
    val seg = DeltaTable.forPath(spark, p).segment // the first read
    assert(seg.checkpointFiles.nonEmpty && seg.commitFiles.nonEmpty)
    val segs = Seq.fill(3)(LogSegment.forTable(spark, new Path(p)))
    Replay.ReplayCounters.reset()
    val jobs = jobsRunBy(segs.foreach(Replay.metadataAndProtocol(spark, _)))
    assert(jobs == 0, s"metadataAndProtocol ran $jobs Spark jobs")
    assert(Replay.ReplayCounters.checkpointLoad.get() == 0)
    assert(Replay.ReplayCounters.checkpointHit.get() == 3)
  }

  test("a metadata commit after the checkpoint wins over the memo") {
    val p = checkpointedTable(tmp("pmw"))
    DeltaTable.forPath(spark, p) // memoizes the checkpoint's P&M
    graft.GraftSession(spark).sql(
      s"ALTER TABLE '$p' SET TBLPROPERTIES ('team' = 'ml')")
    assert(DeltaTable.forPath(spark, p).metadata.configuration
      .get("team").contains("ml"))
    CommitWriter.append(spark, region.limit(1).withColumn("extra", lit(1)),
      p, mergeSchema = true)
    val snap = DeltaTable.forPath(spark, p)
    assert(snap.schema.fieldNames.toSeq ==
      region.schema.fieldNames.toSeq :+ "extra")
    assert(snap.metadata.configuration.get("team").contains("ml"))
  }

  test("time travel between checkpoints of different schemas") {
    val p = tmp("pmtt")
    val narrow = region.schema.fieldNames.toSeq
    CommitWriter.createTable(spark, region.limit(2), p) // v0
    CommitWriter.checkpoint(spark, p)
    CommitWriter.append(spark, region.limit(1), p) // v1
    CommitWriter.append(spark, region.limit(1).withColumn("extra", lit(1)),
      p, mergeSchema = true) // v2
    CommitWriter.checkpoint(spark, p)
    CommitWriter.append(spark, region.limit(1).withColumn("extra", lit(2)),
      p) // v3
    for (pass <- 1 to 2) { // the second pass is served by the memo
      Replay.ReplayCounters.reset()
      val v1 = DeltaTable.forPath(spark, p, Some(1))
      val v3 = DeltaTable.forPath(spark, p, Some(3))
      assert(v1.segment.checkpointVersion.contains(0L) &&
        v3.segment.checkpointVersion.contains(2L))
      assert(v1.schema.fieldNames.toSeq == narrow, s"pass $pass")
      assert(v3.schema.fieldNames.toSeq == narrow :+ "extra", s"pass $pass")
      if (pass == 2) assert(Replay.ReplayCounters.checkpointLoad.get() == 0)
    }
  }

  test("a table re-created at the same path gets its new schema") {
    val p = checkpointedTable(tmp("pmre"))
    val before = DeltaTable.forPath(spark, p) // memoizes the checkpoint
    val fs = LogSegment.fs(spark, new Path(p))
    assert(fs.delete(new Path(p), true))
    checkpointedTable(p,
      region.select(col("r_regionkey").as("k"), lit("x").as("v")))
    val after = DeltaTable.forPath(spark, p)
    assert(after.segment.checkpointFiles.map(_.getPath.getName) ==
      before.segment.checkpointFiles.map(_.getPath.getName))
    assert(after.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(after.read.count() == 6)
  }

  test("incremental result equals a cold full replay after many mutations") {
    val p = tmp("eq")
    CommitWriter.createTable(spark, region.limit(2), p)
    val warm = () => DeltaTable.forPath(spark, p).allFiles
      .select("path", "size", "commit_version").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    warm() // cache v0
    CommitWriter.append(spark, region.limit(3), p)
    warm() // incremental to v1
    val victim = DeltaTable.forPath(spark, p).allFiles
      .select("path").orderBy("path").limit(1).collect()(0).getString(0)
    CommitWriter.commitRemoves(spark, p, Seq(victim))
    val incremental = warm() // incremental to v2

    // cold state: drop the cache by caching a DIFFERENT table (LRU is
    // per-table, so just compare against the distributed replay instead)
    val cold = Replay.liveFilesDistributedForTest(spark,
      DeltaTable.forPath(spark, p).segment)
      .select("path", "size", "commit_version").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(incremental.toSeq == cold.toSeq)
  }

  test("time-travel read does not clobber the hot latest cache") {
    val p = tmp("tt")
    CommitWriter.createTable(spark, region.limit(2), p)
    CommitWriter.append(spark, region.limit(4), p)
    DeltaTable.forPath(spark, p).allFiles.count() // cache latest (v1)
    DeltaTable.forPath(spark, p, Some(0)).allFiles.count() // time travel
    Replay.ReplayCounters.reset()
    DeltaTable.forPath(spark, p).allFiles.count() // latest again
    assert(Replay.ReplayCounters.hit.get() >= 1,
      "time travel evicted the latest state")
  }

  /** The action rows of the checkpoint at `v` (classic, single part),
    * one sorted sequence per action kind, with every field compared. */
  private def checkpointActions(p: String, v: Long): Map[String, Seq[String]] = {
    val cp = new Path(new Path(p, "_delta_log"), LogSegment.checkpointFileName(v))
    val rows = spark.read.schema(Actions.logSchema).parquet(cp.toString)
    Actions.logSchema.fieldNames.map(f =>
      f -> rows.where(col(f).isNotNull).select(to_json(col(f)))
        .collect().map(_.getString(0)).toSeq.sorted).toMap
  }

  private def dropCheckpoint(p: String, v: Long): Unit = {
    val fs = LogSegment.fs(spark, new Path(p))
    val log = new Path(p, "_delta_log")
    assert(fs.delete(new Path(log, LogSegment.checkpointFileName(v)), false))
    fs.delete(new Path(log, "_last_checkpoint"), false)
  }

  private def withCachingOff[A](body: => A): A = {
    spark.conf.set("spark.lakehouse.delta.enable_caching", "false")
    try body finally spark.conf.unset("spark.lakehouse.delta.enable_caching")
  }

  test("a checkpoint written from the cached state equals the distributed one") {
    val p = tmp("cpstate")
    // row tracking puts a domainMetadata action in every data commit;
    // DELETE and MERGE then write deletion vectors
    CommitWriter.createTable(spark, region.repartition(3), p,
      configuration = Map("delta.enableRowTracking" -> "true",
        "delta.enableDeletionVectors" -> "true",
        CommitWriter.CheckpointIntervalPropKey -> "1000"))
    CommitWriter.append(spark, region.limit(2), p)
    CommitWriter.commitRemoves(spark, p, Seq(DeltaTable.forPath(spark, p)
      .allFiles.select("path").orderBy("path").head().getString(0)))
    graft.commands.DmlCommands.delete(spark, p, col("r_regionkey") === 1)
    graft.commands.MergeCommand.upsert(spark, p,
      region.limit(2).withColumn("r_name", lit("X")), Seq("r_regionkey"))
    assert(CommitWriter.appendIfAbsent(spark, region.limit(1), p,
      appId = "sink-a", txnVersion = 3L).isDefined)
    assert(CommitWriter.appendIfAbsent(spark, region.limit(1), p,
      appId = "sink-b", txnVersion = 7L).isDefined)
    assert(CommitWriter.appendIfAbsent(spark, region.limit(1), p,
      appId = "sink-a", txnVersion = 4L).isDefined)
    val seg = LogSegment.forTable(spark, new Path(p))
    val v = seg.version
    DeltaTable.forPath(spark, p).allFiles.count() // the cache holds v

    Replay.ReplayCounters.reset()
    assert(CommitWriter.checkpoint(spark, p) == v)
    assert(Replay.ReplayCounters.full.get() == 0,
      "the checkpoint replayed the log instead of using the cached state")
    val fromState = checkpointActions(p, v)

    // against the distributed replay of the same segment
    val adds = Replay.liveFilesDistributedForTest(spark, seg)
      .select(to_json(struct(col("path"), col("partitionValues"),
        col("size"), col("modificationTime"), lit(false).as("dataChange"),
        col("stats"), col("deletionVector"), col("baseRowId"),
        col("defaultRowCommitVersion")))).collect().map(_.getString(0))
    assert(fromState("add") == adds.toSeq.sorted)
    val tombstones = Replay.tombstones(spark, seg)
      .select(to_json(col("remove").withField("dataChange", lit(false))))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(tombstones.nonEmpty && fromState("remove") == tombstones)
    val domains = Replay.domainMetadata(spark, seg)
    assert(domains.keySet == Set("delta.rowTracking"))
    assert(fromState("domainMetadata").map(Actions.mapper.readTree)
      .map(d => d.get("domain").asText() -> d.get("configuration").asText())
      .toMap == domains.map { case (k, d) => k -> d.configuration })
    assert(fromState("txn").map(Actions.mapper.readTree)
      .map(t => t.get("appId").asText() -> t.get("version").asLong()).toMap ==
      Map("sink-a" -> 4L, "sink-b" -> 7L))
    val (meta, proto) = Replay.metadataAndProtocol(spark, seg)
    assert(fromState("metaData").map(Actions.mapper.readTree)
      .map(Replay.parseMetadata) == Seq(meta))
    assert(fromState("protocol").map(Actions.mapper.readTree)
      .map(Replay.parseProtocol) == Seq(proto))

    // the distributed checkpoint writes the same rows
    dropCheckpoint(p, v)
    withCachingOff(assert(CommitWriter.checkpoint(spark, p) == v))
    assert(checkpointActions(p, v) == fromState)

    // and so does a state checkpoint re-created under the same name
    dropCheckpoint(p, v)
    DeltaTable.forPath(spark, p).allFiles.count()
    assert(CommitWriter.checkpoint(spark, p) == v)
    assert(checkpointActions(p, v) == fromState)
    val now = LogSegment.forTable(spark, new Path(p))
    assert(now.checkpointVersion.contains(v))
    def files(df: DataFrame) = df.select("path", "size", "commit_version")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(files(DeltaTable.forPath(spark, p).allFiles) ==
      files(Replay.liveFilesDistributedForTest(spark, now)))
    assert(CommitWriter.appendIfAbsent(spark, region.limit(1), p,
      appId = "sink-a", txnVersion = 4L).isEmpty)
  }

  test("a checkpoint of a cached table is one Spark job, two on v2") {
    val p = tmp("cpjobs")
    CommitWriter.createTable(spark, region.limit(2), p)
    CommitWriter.append(spark, region.limit(3), p)
    DeltaTable.forPath(spark, p).allFiles.count()
    assert(jobsRunBy(CommitWriter.checkpoint(spark, p, parts = -1)) == 1)

    val p2 = tmp("cpjobs2")
    CommitWriter.createTable(spark, region.limit(2), p2)
    val v2 = Actions.Protocol(3, 7,
      Some(Seq("v2Checkpoint")), Some(Seq("v2Checkpoint")))
    CommitWriter.commit(spark, p2, 1L,
      Seq(CommitWriter.protocolJson(v2)), "UPGRADE PROTOCOL")
    DeltaTable.forPath(spark, p2).allFiles.count()
    assert(jobsRunBy(CommitWriter.checkpoint(spark, p2, parts = -1)) == 2)
    val seg = LogSegment.forTable(spark, new Path(p2))
    assert(seg.checkpointIsV2 && seg.checkpointVersion.contains(1L))
    assert(!LogSegment.fs(spark, new Path(p2)).exists(new Path(p2,
      s"_delta_log/${LogSegment.checkpointFileName(1L)}")))
  }

  test("reads at and after a new checkpoint are neither full replays " +
      "nor checkpoint loads") {
    for (v2 <- Seq(false, true)) {
      val p = tmp(s"handoff_$v2")
      CommitWriter.createTable(spark, region.limit(2), p)
      if (v2) CommitWriter.commit(spark, p, 1L,
        Seq(CommitWriter.protocolJson(Actions.Protocol(3, 7,
          Some(Seq("v2Checkpoint")), Some(Seq("v2Checkpoint"))))),
        "UPGRADE PROTOCOL")
      else CommitWriter.append(spark, region.limit(3), p)
      DeltaTable.forPath(spark, p).allFiles.count()
      CommitWriter.checkpoint(spark, p, parts = -1)
      Replay.ReplayCounters.reset()
      val atCheckpoint = DeltaTable.forPath(spark, p)
      assert(atCheckpoint.segment.checkpointVersion.contains(1L) &&
        atCheckpoint.segment.commitFiles.isEmpty)
      val n = atCheckpoint.allFiles.count()
      CommitWriter.append(spark, region.limit(1), p)
      assert(DeltaTable.forPath(spark, p).allFiles.count() == n + 1)
      assert(Replay.ReplayCounters.full.get() == 0, s"v2=$v2")
      assert(Replay.ReplayCounters.checkpointLoad.get() == 0, s"v2=$v2")
      assert(Replay.ReplayCounters.hit.get() >= 1 &&
        Replay.ReplayCounters.incremental.get() >= 1, s"v2=$v2")
    }
  }

  test("txn and domain lookups read the cached state, and match it off") {
    val p = tmp("txnstate")
    CommitWriter.createTable(spark, region.limit(2), p,
      configuration = Map("delta.enableRowTracking" -> "true",
        CommitWriter.CheckpointIntervalPropKey -> "1000"))
    assert(CommitWriter.appendIfAbsent(spark, region.limit(1), p,
      appId = "sink-a", txnVersion = 3L).isDefined)
    CommitWriter.append(spark, region.limit(2), p)
    DeltaTable.forPath(spark, p).allFiles.count()
    CommitWriter.checkpoint(spark, p)
    // the checkpoint holds the only rowTracking domain action in the
    // segment: no commit tail to find it in
    val seg = LogSegment.forTable(spark, new Path(p))
    assert(seg.commitFiles.isEmpty)
    def lookups = (CommitWriter.latestTxnVersion(spark, p, "sink-a"),
      CommitWriter.latestTxnVersion(spark, p, "sink-b"),
      Replay.domainMetadataFor(spark, seg, "delta.rowTracking"),
      Replay.domainMetadata(spark, seg))
    var hot: Any = null
    assert(jobsRunBy { hot = lookups } == 0)
    val cold = withCachingOff(lookups)
    assert(hot == cold)
    assert(cold._1.contains(3L) && cold._2.isEmpty && cold._3.isDefined &&
      cold._4.keySet == Set("delta.rowTracking"))
  }
}
