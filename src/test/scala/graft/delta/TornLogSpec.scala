package graft.delta

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.delta.log.{Actions, CommitWriter, ConflictChecker, LogSegment,
  Replay}
import graft.delta.scan.CommitRangeScan

/** A torn log line (a commit or manifest whose line does not parse) is
  * corruption: every reader of the log fails loudly, naming the file,
  * and none of them drops the line and serves a snapshot without it. */
class TornLogSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_torn_$name").toFile
    d.deleteOnExit()
    new File(d, "tbl").getAbsolutePath
  }

  private lazy val region = spark.read.parquet(s"$sf/region.parquet")

  /** No automatic checkpoints: each test places its own. */
  private val noAutoCheckpoint =
    Map(CommitWriter.CheckpointIntervalPropKey -> "1000")

  private def logFile(p: String, name: String): File =
    new File(new File(p, "_delta_log"), name)

  /** Cut the first line of `f` that holds `action` in half, in place. */
  private def tear(f: File, action: String): Unit = {
    val lines = Files.readAllLines(f.toPath, UTF_8).asScala.toSeq
    val i = lines.indexWhere(_.startsWith(s"""{"$action""""))
    assert(i >= 0, s"no $action line in $f")
    Files.write(f.toPath, lines.updated(i, lines(i).take(lines(i).length / 2))
      .mkString("", "\n", "\n").getBytes(UTF_8))
    new File(f.getParentFile, s".${f.getName}.crc").delete()
  }

  /** The message chain of `e` and its causes. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" / ")

  /** v0 create, v1 append, checkpoint @1, v2 append, then `more`
    * commits, and finally one add line of v2 torn. */
  private def tornAfterCheckpoint(name: String,
      more: String => Unit = _ => ()): String = {
    val p = tmp(name)
    CommitWriter.createTable(spark, region.limit(2), p,
      configuration = noAutoCheckpoint)
    CommitWriter.append(spark, region.limit(1), p)
    CommitWriter.checkpoint(spark, p)
    CommitWriter.append(spark, region.limit(3), p)
    more(p)
    tear(logFile(p, LogSegment.commitFileName(2)), "add")
    p
  }

  test("the distributed replay fails on a torn commit line") {
    val p = tornAfterCheckpoint("distributed")
    val seg = LogSegment.forTable(spark, new Path(p))
    assert(seg.checkpointVersion.contains(1L))
    val e = intercept[Exception] {
      Replay.liveFilesDistributedForTest(spark, seg).collect()
    }
    assert(messages(e).contains("FAILFAST"), messages(e))
  }

  test("a snapshot whose P&M come from a later commit does not drop the " +
      "torn add") {
    // v3 carries both metaData and protocol, so resolving the snapshot
    // never opens the torn v2 on the driver
    val p = tornAfterCheckpoint("allfiles", { p =>
      val snap = DeltaTable.forPath(spark, p)
      CommitWriter.commit(spark, p, 3L, Seq(
        CommitWriter.metadataJson(snap.metadata),
        CommitWriter.protocolJson(snap.protocol)), "SET TBLPROPERTIES")
    })
    assert(DeltaTable.forPath(spark, p).version == 3L)
    val e = intercept[Exception] {
      DeltaTable.forPath(spark, p).allFiles.collect()
    }
    assert(messages(e).contains("FAILFAST"), messages(e))
  }

  test("the driver replay fails with an error naming the torn file") {
    val p = tmp("driver")
    CommitWriter.createTable(spark, region.limit(2), p,
      configuration = noAutoCheckpoint)
    CommitWriter.append(spark, region.limit(3), p)
    val torn = LogSegment.commitFileName(1)
    tear(logFile(p, torn), "add")
    val seg = LogSegment.forTable(spark, new Path(p))
    assert(seg.checkpointFiles.isEmpty)
    val e = intercept[IllegalStateException] {
      Replay.liveFiles(spark, seg)
    }
    assert(e.getMessage.contains(torn) && e.getMessage.contains("line"),
      e.getMessage)
  }

  test("the commit-range scan and the conflict checker fail rather than " +
      "skip the torn line") {
    val p = tornAfterCheckpoint("range")
    val torn = LogSegment.commitFileName(2)
    val snap = DeltaTable.forPath(spark, p, Some(1L))
    val scan = intercept[IllegalStateException] {
      CommitRangeScan.addsBetween(spark, p, snap, 1L, 2L,
        ignoreChanges = false, contextLabel = "test")
    }
    assert(scan.getMessage.contains(torn), scan.getMessage)
    // corruption is not a lost race: no ConcurrentCommitException, whose
    // contract is "re-run the transaction"
    val conflict = intercept[IllegalStateException] {
      ConflictChecker.winners(spark, p, 2L, 2L)
    }
    assert(conflict.getMessage.contains(torn), conflict.getMessage)
  }

  test("a torn v2 manifest line keeps log cleanup from deleting the " +
      "sidecars it references") {
    val p = tmp("manifest")
    CommitWriter.createTable(spark, region.limit(3), p,
      configuration = noAutoCheckpoint) // v0
    CommitWriter.commit(spark, p, 1L, Seq(CommitWriter.protocolJson(
      Actions.Protocol(3, 7, Some(Seq("v2Checkpoint")),
        Some(Seq("v2Checkpoint"))))), "UPGRADE PROTOCOL") // v1
    CommitWriter.checkpoint(spark, p) // v2 manifest @1
    // re-publish the manifest as JSON, the form foreign writers use
    val logDir = new File(p, "_delta_log")
    val parquetManifest = logDir.listFiles().find(f =>
      LogSegment.v2ManifestVersion(f.getName).isDefined).get
    val rows = spark.read.schema(Actions.v2CheckpointSchema)
      .parquet(parquetManifest.getPath).toJSON.collect().toSeq
    val jsonManifest = new File(logDir,
      parquetManifest.getName.stripSuffix(".parquet") + ".json")
    Files.write(jsonManifest.toPath, rows.mkString("", "\n", "\n")
      .getBytes(UTF_8))
    parquetManifest.delete()
    new File(logDir, s".${parquetManifest.getName}.crc").delete()
    val sidecars = new File(logDir, "_sidecars").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(sidecars.nonEmpty)

    val meta = DeltaTable.forPath(spark, p).metadata
    tear(jsonManifest, "sidecar")
    val old = System.currentTimeMillis() - 40L * 24 * 3600 * 1000
    (logDir.listFiles() ++ new File(logDir, "_sidecars").listFiles())
      .filter(_.isFile).foreach(_.setLastModified(old))
    intercept[Exception] {
      // the snapshot's metadata is passed in, so the retained-manifest
      // read is the first to meet the torn line
      CommitWriter.cleanupExpiredLogs(spark, p, metaOpt = Some(meta))
    }
    assert(new File(logDir, "_sidecars").listFiles().map(_.getName)
      .toSet.filter(_.endsWith(".parquet")) == sidecars)
  }
}
