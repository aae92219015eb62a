package graft.delta

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.delta.log.{Actions, CommitWriter, LogSegment}

/** Log retention cleanup: expired, checkpoint-superseded log files are
  * deleted; everything needed to reconstruct the checkpoint version and
  * later stays; time travel below the horizon names the earliest
  * reconstructable version. */
class LogCleanupSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_logclean_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private lazy val region = spark.read.parquet(s"$sf/region.parquet")

  private def logFiles(p: String): Set[String] =
    Option(new java.io.File(p, "_delta_log").listFiles())
      .getOrElse(Array.empty).filter(_.isFile).map(_.getName).toSet

  /** Age every current log file past the default 30-day retention. */
  private def ageLog(p: String): Unit = {
    val old = System.currentTimeMillis() - 40L * 24 * 3600 * 1000
    Option(new java.io.File(p, "_delta_log").listFiles())
      .getOrElse(Array.empty).filter(_.isFile)
      .foreach(_.setLastModified(old))
    val sc = new java.io.File(p, "_delta_log/_sidecars")
    Option(sc.listFiles()).getOrElse(Array.empty)
      .foreach(_.setLastModified(old))
  }

  test("expired pre-checkpoint commits and superseded checkpoints are " +
      "deleted; the tail replays; time travel names the horizon") {
    val p = tmp("basic")
    CommitWriter.createTable(spark, region.limit(2), p)         // v0
    CommitWriter.append(spark, region.limit(1), p)              // v1
    CommitWriter.checkpoint(spark, p)                           // cp @1
    CommitWriter.append(spark, region.limit(1), p)              // v2
    CommitWriter.append(spark, region.limit(1), p)              // v3
    CommitWriter.checkpoint(spark, p)                           // cp @3
    CommitWriter.append(spark, region.limit(1), p)              // v4
    val before = DeltaTable.forPath(spark, p).read.count()

    ageLog(p)
    val deleted = CommitWriter.cleanupExpiredLogs(spark, p)
    // commits 0-2 + the superseded checkpoint @1 go; everything the
    // current checkpoint needs stays
    val names = logFiles(p)
    assert(!names.contains(LogSegment.commitFileName(0)))
    assert(!names.contains(LogSegment.commitFileName(1)))
    assert(!names.contains(LogSegment.commitFileName(2)))
    assert(!names.contains(LogSegment.checkpointFileName(1)))
    assert(names.contains(LogSegment.checkpointFileName(3)))
    assert(names.contains(LogSegment.commitFileName(3)),
      "the commit AT the checkpoint version must survive")
    assert(names.contains(LogSegment.commitFileName(4)))
    assert(deleted == 4, s"deleted $deleted, log now: $names")

    val snap = DeltaTable.forPath(spark, p)
    assert(snap.version == 4)
    assert(snap.read.count() == before)

    // below the horizon: actionable error, not a silent wrong answer
    val e = intercept[IllegalStateException] {
      DeltaTable.forPath(spark, p, Some(0L))
    }
    assert(e.getMessage.contains("earliest reconstructable version is 3"),
      e.getMessage)
  }

  test("files inside the retention window survive cleanup") {
    val p = tmp("fresh")
    CommitWriter.createTable(spark, region.limit(2), p)
    CommitWriter.append(spark, region.limit(1), p)
    CommitWriter.checkpoint(spark, p)
    CommitWriter.append(spark, region.limit(1), p)
    val before = logFiles(p)
    // default 30-day retention: nothing just written is expired
    assert(CommitWriter.cleanupExpiredLogs(spark, p) == 0)
    assert(logFiles(p) == before)
    // and without any checkpoint there is nothing to supersede
    val p2 = tmp("nocp")
    CommitWriter.createTable(spark, region.limit(1), p2)
    ageLog(p2)
    assert(CommitWriter.cleanupExpiredLogs(spark, p2) == 0)
  }

  test("delta.enableExpiredLogCleanup=false disables the post-checkpoint " +
      "sweep; an explicit call still honors the table retention property") {
    val p = tmp("disabled")
    CommitWriter.createTable(spark, region.limit(2), p,
      configuration = Map("delta.enableExpiredLogCleanup" -> "false",
        "delta.logRetentionDuration" -> "interval 7 days"))
    CommitWriter.append(spark, region.limit(1), p)
    CommitWriter.checkpoint(spark, p)
    CommitWriter.append(spark, region.limit(1), p)
    ageLog(p)
    CommitWriter.checkpoint(spark, p) // would sweep if enabled
    assert(logFiles(p).contains(LogSegment.commitFileName(0)),
      "cleanup ran despite delta.enableExpiredLogCleanup=false")
    // explicit maintenance call: the 7-day table property applies
    assert(CommitWriter.cleanupExpiredLogs(spark, p) > 0)
    assert(!logFiles(p).contains(LogSegment.commitFileName(0)))
  }

  test("the horizon rule never strands an in-retention version behind " +
      "a deleted checkpoint") {
    val p = tmp("horizon")
    CommitWriter.createTable(spark, region.limit(2), p)  // v0
    CommitWriter.append(spark, region.limit(1), p)       // v1
    CommitWriter.checkpoint(spark, p)                    // cp @1
    CommitWriter.append(spark, region.limit(1), p)       // v2
    CommitWriter.append(spark, region.limit(1), p)       // v3
    CommitWriter.checkpoint(spark, p)                    // cp @3
    val rows2 = DeltaTable.forPath(spark, p, Some(2L)).read.count()

    // age commits 0-1 and checkpoint 1; commits 2-3 + checkpoint 3 stay
    // fresh. A per-file expiry cut below the LATEST checkpoint would
    // delete cp@1 and commits 0-1 — stranding version 2, whose own
    // commit is still in retention. The horizon rule stops at cp@1:
    // only the fully-expired prefix below it (commit 0) may go.
    val old = System.currentTimeMillis() - 40L * 24 * 3600 * 1000
    val logDir = new java.io.File(p, "_delta_log")
    Seq(LogSegment.commitFileName(0), LogSegment.commitFileName(1),
      LogSegment.checkpointFileName(1))
      .foreach(n => new java.io.File(logDir, n).setLastModified(old))

    val deleted = CommitWriter.cleanupExpiredLogs(spark, p)
    assert(deleted == 1, s"only commit 0 may go, deleted $deleted")
    val names = logFiles(p)
    assert(!names.contains(LogSegment.commitFileName(0)))
    assert(names.contains(LogSegment.checkpointFileName(1)),
      "cp@1 is version 2's only reconstruction path and must survive")
    assert(names.contains(LogSegment.commitFileName(1)))
    // version 2 (in retention) still reconstructs: cp@1 + commit 2
    assert(DeltaTable.forPath(spark, p, Some(2L)).read.count() == rows2)
    // version 0 (fully out of retention) is gone, with the gap hint
    intercept[IllegalStateException] {
      DeltaTable.forPath(spark, p, Some(0L))
    }
  }

  test("v2 checkpoints: superseded manifests and orphaned sidecars are " +
      "swept, sidecars of the retained checkpoint survive") {
    val p = tmp("v2")
    CommitWriter.createTable(spark, region.limit(3), p) // v0
    val proto = Actions.Protocol(3, 7,
      Some(Seq("v2Checkpoint")), Some(Seq("v2Checkpoint")))
    CommitWriter.commit(spark, p, 1L,
      Seq(CommitWriter.protocolJson(proto)), "UPGRADE PROTOCOL") // v1
    CommitWriter.checkpoint(spark, p, parts = 2) // cp @1
    CommitWriter.append(spark, region.limit(1), p)       // v2
    CommitWriter.checkpoint(spark, p, parts = 2) // cp @2
    CommitWriter.append(spark, region.limit(1), p)       // v3
    val before = DeltaTable.forPath(spark, p).read.count()

    val scDir = new java.io.File(p, "_delta_log/_sidecars")
    val sidecarsBefore = scDir.listFiles().map(_.getName).toSet
    ageLog(p)
    val deleted = CommitWriter.cleanupExpiredLogs(spark, p)
    assert(deleted > 0)

    // the superseded @1 manifest is gone, the @2 manifest remains
    val manifests = logFiles(p)
      .flatMap(n => LogSegment.v2ManifestVersion(n).map(_ -> n))
    assert(manifests.map(_._1) == Set(2L), s"manifests: $manifests")
    // @2's sidecars survive; @1's (now unreferenced) are swept
    val sidecarsAfter = scDir.listFiles().map(_.getName).toSet
    val seg = LogSegment.forTable(spark, new Path(p))
    val referenced = graft.delta.log.Replay.sidecarPaths(spark, seg)
      .map(_.split('/').last).toSet
    assert(referenced.subsetOf(sidecarsAfter))
    assert(sidecarsAfter.size < sidecarsBefore.size,
      "orphaned sidecars of the superseded checkpoint must be swept")

    // the table still replays from the retained v2 checkpoint alone
    val snap = DeltaTable.forPath(spark, p)
    assert(snap.version == 3)
    assert(snap.read.count() == before)
  }
}
