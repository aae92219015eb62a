package graft.delta

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.commands.{DmlCommands, MergeCommand, OptimizeCommand}
import graft.delta.log.{CommitWriter, LogSegment, Replay, RowTracking}

/** Row tracking (writer feature `rowTracking` + `domainMetadata`):
  * fresh row ids — baseRowId per add, allocated from the
  * delta.rowTracking high-water-mark domain, preserved by merge-on-read
  * DML (masked files never move) and replayed through checkpoints. */
class RowTrackingSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_rt_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private def df(xs: Range) = {
    import spark.implicits._
    xs.map(x => (x.toLong, s"v$x")).toDF("k", "v")
  }

  private val RtConf = Map(
    RowTracking.PropKey -> "true",
    "delta.enableDeletionVectors" -> "true")

  /** k -> (_row_id, _row_commit_version) */
  private def ids(p: String): Map[Long, (Long, Long)] =
    DeltaTable.forPath(spark, p).readWithRowIds
      .select("k", "_row_id", "_row_commit_version").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("create + append allocate disjoint contiguous id ranges and " +
      "declare the features") {
    val p = tmp("alloc")
    CommitWriter.createTable(spark,
      df(0 until 10).repartition(1), p, configuration = RtConf)
    CommitWriter.append(spark, df(10 until 25).repartition(1), p)

    val snap = DeltaTable.forPath(spark, p)
    val wf = snap.protocol.writerFeatures.getOrElse(Nil)
    assert(wf.contains("rowTracking") && wf.contains("domainMetadata"))

    val m = ids(p)
    assert(m.size == 25)
    assert(m.values.map(_._1).toSet == (0L until 25L).toSet,
      "ids must be exactly 0..24 across the two commits")
    // commit attribution: file of commit 0 vs commit 1
    assert(m.filter(_._2._2 == 0L).size == 10)
    assert(m.filter(_._2._2 == 1L).size == 15)
    // the high-water mark is the LAST allocated id
    assert(RowTracking.highWaterMark(spark, snap.segment) == 25L,
      "next unallocated id must be 25")
  }

  test("DV DELETE and UPDATE preserve surviving rows' ids; updated " +
      "rows get fresh ids") {
    val p = tmp("dml")
    CommitWriter.createTable(spark,
      df(0 until 20).repartition(1), p, configuration = RtConf)
    val before = ids(p)

    DmlCommands.delete(spark, p, col("k") % 4 === 1)
    val afterDelete = ids(p)
    assert(afterDelete.keySet == before.keySet.filterNot(_ % 4 == 1))
    afterDelete.foreach { case (k, v) =>
      assert(v == before(k), s"row $k changed identity across DV DELETE")
    }

    DmlCommands.update(spark, p, col("k") % 4 === 2,
      Map("v" -> concat(col("v"), lit("!"))))
    val afterUpdate = ids(p)
    assert(afterUpdate.keySet == afterDelete.keySet)
    afterUpdate.foreach { case (k, v) =>
      if (k % 4 == 2) {
        assert(v._1 >= 20L, s"updated row $k must get a FRESH id, got $v")
        assert(v._2 == 2L, "updated row images belong to the UPDATE commit")
      } else assert(v == before(k), s"untouched row $k changed identity")
    }
    // fresh ids are unique across the whole history
    assert(afterUpdate.values.map(_._1).toSet.size == afterUpdate.size)
  }

  test("row-moving rewrites are refused: CoW DML, CoW MERGE, OPTIMIZE") {
    val p = tmp("refuse")
    CommitWriter.createTable(spark, df(0 until 10).repartition(2), p,
      configuration = Map(RowTracking.PropKey -> "true")) // no DVs
    val e1 = intercept[IllegalArgumentException] {
      DmlCommands.delete(spark, p, col("k") === 1)
    }
    assert(e1.getMessage.contains("enableDeletionVectors"))
    val e2 = intercept[IllegalArgumentException] {
      MergeCommand.upsert(spark, p, df(0 until 2), Seq("k"))
    }
    assert(e2.getMessage.contains("row-tracked"))
    val e3 = intercept[IllegalArgumentException] {
      OptimizeCommand.optimize(spark, p)
    }
    assert(e3.getMessage.contains("row-tracked") ||
      e3.getMessage.contains("reassign"))
  }

  test("mid-life enablement backfills every live file's ids in one " +
      "metadata-only commit (no data rewrite)") {
    val p = tmp("backfill")
    CommitWriter.createTable(spark, df(0 until 6).repartition(1), p) // v0
    CommitWriter.append(spark, df(6 until 10).repartition(1), p)    // v1
    val dataFilesBefore = DeltaTable.forPath(spark, p).allFiles
      .select("path", "modificationTime").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    graft.GraftSession(spark).sql(
      s"ALTER TABLE '$p' SET TBLPROPERTIES " +
        s"('${RowTracking.PropKey}' = 'true', 'team' = 'ml')")

    val snap = DeltaTable.forPath(spark, p)
    assert(snap.version == 2)
    val wf = snap.protocol.writerFeatures.getOrElse(Nil)
    assert(wf.contains("rowTracking") && wf.contains("domainMetadata"))
    assert(snap.metadata.configuration.get("team").contains("ml"))
    // ids backfilled 0..9, commit attribution = the ORIGINAL commits
    val m = ids(p)
    assert(m.values.map(_._1).toSet == (0L until 10L).toSet)
    assert(m.filter(_._2._2 == 0L).size == 6)
    assert(m.filter(_._2._2 == 1L).size == 4)
    // no data file was rewritten (same paths, same mtimes)
    val after = snap.allFiles.select("path", "modificationTime").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == dataFilesBefore, "backfill must not rewrite data")
    // allocation continues on top of the backfilled mark
    CommitWriter.append(spark, df(10 until 13).repartition(1), p)
    assert(ids(p).values.map(_._1).toSet == (0L until 13L).toSet)
    // idempotent: re-setting the property takes the plain path
    graft.GraftSession(spark).sql(s"ALTER TABLE '$p' SET TBLPROPERTIES " +
      s"('${RowTracking.PropKey}' = 'true')")
    assert(ids(p).values.map(_._1).toSet == (0L until 13L).toSet)
  }

  test("ids and the high-water mark survive a checkpoint") {
    val p = tmp("cp")
    CommitWriter.createTable(spark,
      df(0 until 8).repartition(1), p, configuration = RtConf)
    CommitWriter.append(spark, df(8 until 12).repartition(1), p)
    val before = ids(p)
    CommitWriter.checkpoint(spark, p)
    // replay must come from the checkpoint alone
    val fs = LogSegment.fs(spark, new org.apache.hadoop.fs.Path(p))
    val logDir = new org.apache.hadoop.fs.Path(p, "_delta_log")
    (0L to 1L).foreach(i => fs.delete(
      new org.apache.hadoop.fs.Path(logDir, LogSegment.commitFileName(i)),
      false))
    val snap = DeltaTable.forPath(spark, p)
    assert(snap.segment.checkpointVersion.contains(1L))
    assert(ids(p) == before, "row ids diverged through the checkpoint")
    assert(RowTracking.highWaterMark(spark, snap.segment) == 12L,
      "high-water-mark domain lost by the checkpoint")
    // allocation continues correctly on top of the checkpointed mark
    CommitWriter.append(spark, df(12 until 15).repartition(1), p)
    assert(ids(p).values.map(_._1).toSet == (0L until 15L).toSet)
  }

  test("racing row-tracked appends re-allocate and land with disjoint " +
      "id ranges (threaded)") {
    import java.util.concurrent.{CyclicBarrier, Executors}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val p = tmp("race")
    CommitWriter.createTable(spark,
      df(0 until 5).repartition(1), p, configuration = RtConf)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val barrier = new CyclicBarrier(4)
    try {
      val fs = (0 until 4).map { i =>
        Future {
          barrier.await()
          CommitWriter.append(spark,
            df(100 * (i + 1) until 100 * (i + 1) + 10).repartition(1), p,
            maxRetries = 64)
        }
      }
      Await.result(Future.sequence(fs), 120.seconds)
    } finally pool.shutdown()
    val m = ids(p)
    assert(m.size == 45)
    assert(m.values.map(_._1).toSet == (0L until 45L).toSet,
      "racing appends must re-stamp from the new tip: ids exactly 0..44")
  }

  test("DML add stamping re-reads the high-water mark across a rebase") {
    val p = tmp("rebase_hwm")
    CommitWriter.createTable(spark,
      df(0 until 5).repartition(1), p, configuration = RtConf) // ids 0-4
    val stale = DeltaTable.forPath(spark, p)
    val fakeAdd = graft.delta.log.Actions.AddFile(
      path = "zz-fake.parquet", partitionValues = Map.empty, size = 1L,
      modificationTime = 0L, dataChange = true,
      stats = Some("""{"numRecords":7}"""))
    // the commit loop hands each attempt its parent segment
    def actionsFor(parent: LogSegment) =
      RowTracking.addActions(spark, stale.metadata, Seq(fakeAdd), parent)
    def baseOf(actions: Seq[String]): Long = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      actions.flatMap(a => Option(mapper.readTree(a).get("add")))
        .map(_.get("baseRowId").asLong()).head
    }
    // first attempt: allocate from the snapshot-time mark
    assert(baseOf(actionsFor(stale.segment)) == 5L)
    // a partition-disjoint winner advances the mark to 15
    CommitWriter.append(spark, df(100 until 110).repartition(1), p)
    // the rebase attempt MUST allocate past the winner, not duplicate it
    assert(baseOf(actionsFor(LogSegment.forTable(spark,
      new org.apache.hadoop.fs.Path(p)))) == 15L,
      "rebased DML stamped from a stale high-water mark")
  }

  test("identity + row tracking: one append stamps ids AND advances " +
      "the identity mark") {
    import spark.implicits._
    val p = tmp("identity_rt")
    CommitWriter.createTable(spark,
      Seq.empty[(Long, String)].toDF("id", "payload"), p,
      configuration = RtConf)
    val snap0 = DeltaTable.forPath(spark, p)
    val fields = snap0.metadata.dataSchema.fields.map { f =>
      if (f.name == "id")
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("delta.identity.start", 100L)
          .putLong("delta.identity.step", 1L).build())
      else f
    }
    CommitWriter.commit(spark, p, snap0.version + 1,
      Seq(CommitWriter.metadataJson(snap0.metadata.copy(
        schemaString =
          org.apache.spark.sql.types.StructType(fields).json))), "ALTER")
    CommitWriter.append(spark,
      Seq.tabulate(6)(i => s"p$i").toDF("payload").repartition(1), p)
    val got = DeltaTable.forPath(spark, p).readWithRowIds
    assert(got.select("_row_id").collect().map(_.getLong(0)).toSet ==
      (0L until 6L).toSet,
      "identity-allocating append must still stamp base row ids")
    assert(got.select("id").collect().map(_.getLong(0)).toSet ==
      (100L until 106L).toSet)
    assert(RowTracking.highWaterMark(spark,
      DeltaTable.forPath(spark, p).segment) == 6L)
  }

  test("foreign files without baseRowId fail the row-id read with a " +
      "named file") {
    val p = tmp("foreign")
    CommitWriter.createTable(spark,
      df(0 until 5).repartition(1), p, configuration = RtConf)
    // simulate a foreign writer: strip the tracking fields off the add
    val snap = DeltaTable.forPath(spark, p)
    val add0 = snap.allFiles.head()
    CommitWriter.commit(spark, p, 1L, Seq(
      CommitWriter.removeJson(graft.delta.log.Actions.RemoveFile(
        add0.getAs[String]("path"), Some(0L), dataChange = false)),
      CommitWriter.addJson(graft.delta.log.Actions.AddFile(
        path = add0.getAs[String]("path"),
        partitionValues = Map.empty,
        size = add0.getAs[Long]("size"),
        modificationTime = add0.getAs[Long]("modificationTime"),
        dataChange = false,
        stats = Option(add0.getAs[String]("stats"))))), "FOREIGN")
    val e = intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, p).readWithRowIds.collect()
    }
    assert(e.getMessage.contains("baseRowId"))
  }
}
