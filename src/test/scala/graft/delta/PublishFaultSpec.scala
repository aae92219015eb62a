package graft.delta

import java.io.IOException
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.delta.log.{Actions, CommitWriter, LogCompaction, LogSegment,
  Replay}

/** Faults injected into each publish step of the log (Delta Lake,
  * VLDB 2020, §3: atomic put-if-absent commits and checkpoints): the
  * commit's create-no-overwrite, a classic checkpoint's part rename,
  * the v2 manifest rename, the `_last_checkpoint` write and the
  * compaction publish. Each failing call must surface as an error, leave
  * the table reading the same version and rows, and let a retry
  * succeed. A checkpoint written from the replay cache hands its state
  * on only once fully published, so after any fault the next replay
  * still matches the distributed one. */
class PublishFaultSpec extends AnyFunSuite with BeforeAndAfterEach {
  import TestSpark._

  override def beforeEach(): Unit = FaultFileSystem.install(spark)
  override def afterEach(): Unit = FaultFileSystem.disarm()

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_fault_$name").toFile
    d.deleteOnExit()
    FaultFileSystem.pathOf(new java.io.File(d, "tbl").getAbsolutePath)
  }

  private lazy val region = spark.read.parquet(s"$sf/region.parquet")

  private def state(p: String): (Long, Option[Long], Seq[Row]) = {
    val snap = DeltaTable.forPath(spark, p)
    (snap.version, snap.segment.checkpointVersion,
      snap.read.orderBy("r_regionkey").collect().toSeq)
  }

  private def lastCheckpointExists(p: String): Boolean =
    LogSegment.fs(spark, new Path(p))
      .exists(new Path(p, "_delta_log/_last_checkpoint"))

  /** Run `step` with the armed fault: it must throw, the fault must have
    * fired, and the table must read as before. */
  private def failsCleanly(p: String)(step: => Any): Unit = {
    val before = state(p)
    val err = intercept[IOException](step)
    assert(err.getMessage.contains("injected"), err.getMessage)
    assert(!FaultFileSystem.pending, "the armed fault never fired")
    assert(state(p) == before)
  }

  test("a failed commit create leaves the table as it was; a retry lands") {
    val p = tmp("commit")
    CommitWriter.createTable(spark, region.limit(2), p) // v0
    FaultFileSystem.failNext("create")(
      _.getName == LogSegment.commitFileName(1L))
    failsCleanly(p)(CommitWriter.append(spark, region.limit(1), p))
    assert(!LogSegment.fs(spark, new Path(p))
      .exists(new Path(p, s"_delta_log/${LogSegment.commitFileName(1L)}")))

    CommitWriter.append(spark, region.limit(1), p)
    val (v, _, rows) = state(p)
    assert(v == 1L && rows.length == 3)
  }

  test("a failed second-part rename publishes no classic checkpoint") {
    val p = tmp("classic")
    CommitWriter.createTable(spark, region.repartition(3), p) // v0
    CommitWriter.append(spark, region.repartition(2), p) // v1
    FaultFileSystem.failNext("rename")(_.getName ==
      f"${1L}%020d.checkpoint.${2}%010d.${2}%010d.parquet")
    failsCleanly(p)(CommitWriter.checkpoint(spark, p, parts = 2))
    assert(!lastCheckpointExists(p))

    assert(CommitWriter.checkpoint(spark, p, parts = 2) == 1L)
    val (_, cp, rows) = state(p)
    assert(cp.contains(1L) && rows.length == 10)
    assert(DeltaTable.forPath(spark, p).segment.checkpointFiles.length == 2)
  }

  test("a failed v2 manifest rename publishes no v2 checkpoint") {
    val p = tmp("v2")
    CommitWriter.createTable(spark, region, p) // v0
    val v2 = Actions.Protocol(3, 7,
      Some(Seq("v2Checkpoint")), Some(Seq("v2Checkpoint")))
    CommitWriter.commit(spark, p, 1L,
      Seq(CommitWriter.protocolJson(v2)), "UPGRADE PROTOCOL") // v1
    FaultFileSystem.failNext("rename")(
      f => LogSegment.v2ManifestVersion(f.getName).isDefined)
    failsCleanly(p)(CommitWriter.checkpoint(spark, p, parts = 2))
    assert(!lastCheckpointExists(p))

    assert(CommitWriter.checkpoint(spark, p, parts = 2) == 1L)
    val snap = DeltaTable.forPath(spark, p)
    assert(snap.segment.checkpointIsV2 && snap.read.count() == 5)
  }

  test("a failed compaction publish writes no span file; a retry does") {
    val p = tmp("compact")
    CommitWriter.createTable(spark, region.limit(1), p) // v0
    CommitWriter.append(spark, region.limit(2), p) // v1
    CommitWriter.append(spark, region.limit(3), p) // v2
    val span = new Path(p, s"_delta_log/${LogSegment.compactedFileName(0L, 2L)}")
    FaultFileSystem.failNext("create")(_.getName == span.getName)
    failsCleanly(p)(LogCompaction.compactLog(spark, p, 0L, 2L))
    assert(!LogSegment.fs(spark, new Path(p)).exists(span))

    val before = state(p)
    assert(LogCompaction.compactLog(spark, p, 0L, 2L))
    assert(LogSegment.fs(spark, new Path(p)).exists(span))
    assert(state(p) == before)
    // a second publish of the same span finds it already there
    assert(!LogCompaction.compactLog(spark, p, 0L, 2L))
  }

  /** The live files of the latest segment through the replay cache and
    * through the distributed replay. */
  private def liveFilesAgree(p: String): Unit = {
    val seg = LogSegment.forTable(spark, new Path(p))
    def files(df: org.apache.spark.sql.DataFrame) =
      df.select("path", "size", "commit_version").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
        .toSeq
    assert(files(Replay.liveFiles(spark, seg)) ==
      files(Replay.liveFilesDistributedForTest(spark, seg)))
  }

  /** v0 create, v1 append, its state in the replay cache. */
  private def cachedTable(name: String): String = {
    val p = tmp(name)
    CommitWriter.createTable(spark, region.limit(2), p) // v0
    CommitWriter.append(spark, region.limit(3), p) // v1
    DeltaTable.forPath(spark, p).allFiles.count()
    p
  }

  test("a failed part rename of a cached-state checkpoint hands nothing on") {
    val p = cachedTable("state_rename")
    FaultFileSystem.failNext("rename")(
      _.getName == LogSegment.checkpointFileName(1L))
    failsCleanly(p)(CommitWriter.checkpoint(spark, p))
    assert(!lastCheckpointExists(p))
    liveFilesAgree(p)

    assert(CommitWriter.checkpoint(spark, p) == 1L)
    val (_, cp, rows) = state(p)
    assert(cp.contains(1L) && rows.length == 5)
    liveFilesAgree(p)
  }

  test("a failed _last_checkpoint write hands nothing on; the table reads " +
      "the same") {
    val p = cachedTable("state_last")
    val (v, _, rows) = state(p)
    FaultFileSystem.failNext("create")(_.getName == "_last_checkpoint")
    val err = intercept[IOException](CommitWriter.checkpoint(spark, p))
    assert(err.getMessage.contains("injected"), err.getMessage)
    assert(!FaultFileSystem.pending)
    // the parts did land: a listing resolves the checkpoint
    val (v1, cp, rows1) = state(p)
    assert(v1 == v && rows1 == rows && cp.contains(1L))
    assert(!lastCheckpointExists(p))
    liveFilesAgree(p)

    assert(CommitWriter.checkpoint(spark, p) == 1L)
    assert(lastCheckpointExists(p))
    liveFilesAgree(p)
  }

  test("a _last_checkpoint pointing at a missing checkpoint: the table " +
      "reads the same and a later checkpoint lands") {
    val p = cachedTable("state_dangling")
    assert(CommitWriter.checkpoint(spark, p) == 1L)
    val (v, _, rows) = state(p)
    // the checkpoint the cache was handed is deleted out of band
    assert(LogSegment.fs(spark, new Path(p)).delete(
      new Path(p, s"_delta_log/${LogSegment.checkpointFileName(1L)}"), false))
    assert(lastCheckpointExists(p))
    val (v1, cp, rows1) = state(p)
    assert(v1 == v && rows1 == rows && cp.isEmpty)
    liveFilesAgree(p)

    CommitWriter.append(spark, region.limit(1), p) // v2
    assert(CommitWriter.checkpoint(spark, p) == 2L)
    val (_, cp2, rows2) = state(p)
    assert(cp2.contains(2L) && rows2.length == 6)
    liveFilesAgree(p)
  }
}
