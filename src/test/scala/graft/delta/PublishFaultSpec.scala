package graft.delta

import java.io.IOException
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.delta.log.{Actions, CommitWriter, LogCompaction, LogSegment}

/** Faults injected into each publish step of the log (Delta Lake,
  * VLDB 2020, §3: atomic put-if-absent commits and checkpoints): the
  * commit's create-no-overwrite, a classic checkpoint's part rename,
  * the v2 manifest rename and the compaction publish. Each failing call
  * must surface as an error, leave the table reading the same version
  * and rows, and let a retry succeed. */
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
}
