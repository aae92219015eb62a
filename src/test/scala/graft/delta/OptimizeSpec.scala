package graft.delta

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.delta.log.{CommitWriter, LogSegment}

class OptimizeSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_opt_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private lazy val orders = spark.read.parquet(s"$sf/orders.parquet")
  private lazy val region = spark.read.parquet(s"$sf/region.parquet")

  test("OPTIMIZE compacts a column-mapped partitioned table via the " +
    "physical funnel") {
    val p = tmp("mapped")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    CommitWriter.createTableMapped(spark, nation, p,
      partitionColumns = Seq("n_regionkey"))
    for (_ <- 1 to 3) CommitWriter.append(spark, nation.limit(10), p)
    val before = DeltaTable.forPath(spark, p)
    val beforeFiles = before.allFiles.count()
    val expect = before.read.count()
    graft.commands.OptimizeCommand.optimize(spark, p)
    val after = DeltaTable.forPath(spark, p)
    assert(after.allFiles.count() < beforeFiles)
    assert(after.read.count() == expect)
    // compacted files carry physical names and physical hive dirs
    after.allFiles.select("path").collect().map(_.getString(0)).foreach {
      rel =>
        assert(rel.startsWith("col-3="), rel)
        val cols = spark.read.parquet(s"$p/$rel").columns.toSet
        assert(cols == Set("col-1", "col-2"), s"$rel: $cols")
    }
  }

  test("OPTIMIZE compacts small files, preserves rows + history") {
    val p = tmp("basic")
    // 4 commits -> 4+ small files
    CommitWriter.createTable(spark, orders.limit(100).repartition(1), p)
    for (_ <- 1 to 3)
      CommitWriter.append(spark, orders.limit(100).repartition(1), p)
    val before = DeltaTable.forPath(spark, p)
    val beforeFiles = before.allFiles.count()
    val beforeCount = before.read.count()
    assert(beforeFiles >= 4)

    val metrics = GraftSessionFixture.g.sql(s"OPTIMIZE '$p'").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(metrics("files_removed").toInt == beforeFiles)
    assert(metrics("files_added").toInt < beforeFiles)

    val after = DeltaTable.forPath(spark, p)
    assert(after.version == before.version + 1)
    assert(after.allFiles.count() < beforeFiles)
    assert(after.read.count() == beforeCount)
    // pre-optimize version still readable
    assert(DeltaTable.forPath(spark, p, Some(before.version))
      .read.count() == beforeCount)
  }

  test("OPTIMIZE on a partitioned table keeps partition pruning intact") {
    val p = tmp("part")
    CommitWriter.createTable(spark, orders.limit(200), p,
      partitionColumns = Seq("o_orderstatus"))
    CommitWriter.append(spark, orders.limit(200), p)
    val before = DeltaTable.forPath(spark, p)
    val want = before.read.count()
    graft.commands.OptimizeCommand.optimize(spark, p)
    val after = DeltaTable.forPath(spark, p)
    assert(after.read.count() == want)
    val f = after.readWhere(col("o_orderstatus") === "F").count()
    assert(f == before.readWhere(col("o_orderstatus") === "F").count())
    // per-partition file count is now 1
    val perPart = after.allFiles
      .groupBy(expr("partitionValues['o_orderstatus']")).count()
      .agg(max("count")).head().getLong(0)
    assert(perPart == 1)
  }

  test("OPTIMIZE WHERE compacts only the scoped partitions") {
    val p = tmp("scoped")
    CommitWriter.createTable(spark, orders.limit(200), p,
      partitionColumns = Seq("o_orderstatus"))
    CommitWriter.append(spark, orders.limit(200), p)
    val before = DeltaTable.forPath(spark, p)
    val want = before.read.count()
    def filesOf(status: String): Long =
      DeltaTable.forPath(spark, p).allFiles
        .where(expr(s"partitionValues['o_orderstatus'] = '$status'"))
        .count()
    val fBefore = filesOf("F")
    val oBefore = filesOf("O")
    assert(fBefore >= 2 && oBefore >= 2)

    val metrics = graft.commands.OptimizeCommand.optimize(spark, p,
        where = Some(col("o_orderstatus") === "F"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(metrics("partitions_optimized") == "1")
    assert(filesOf("F") == 1, "scoped partition must be compacted")
    assert(filesOf("O") == oBefore, "out-of-scope partition untouched")
    assert(DeltaTable.forPath(spark, p).read.count() == want)

    // predicates on non-partition columns are refused, named
    val e = intercept[IllegalArgumentException] {
      graft.commands.OptimizeCommand.optimize(spark, p,
        where = Some(col("o_totalprice") > 0))
    }
    assert(e.getMessage.contains("o_totalprice"))
    // unpartitioned tables refuse WHERE outright
    val p2 = tmp("scoped_flat")
    CommitWriter.createTable(spark, region.limit(3), p2)
    intercept[IllegalArgumentException] {
      graft.commands.OptimizeCommand.optimize(spark, p2,
        where = Some(col("r_regionkey") === 1))
    }
  }

  test("OPTIMIZE WHERE parses through SQL, with and without ZORDER") {
    val p = tmp("scoped_sql")
    CommitWriter.createTable(spark, orders.limit(300), p,
      partitionColumns = Seq("o_orderstatus"))
    CommitWriter.append(spark, orders.limit(300), p)
    val want = DeltaTable.forPath(spark, p).read.count()
    val g = GraftSessionFixture.g
    val m1 = g.sql(s"OPTIMIZE '$p' WHERE o_orderstatus = 'O'")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m1("partitions_optimized") == "1")
    // WHERE + ZORDER: re-cluster just the scoped partition
    val m2 = g.sql(
      s"OPTIMIZE '$p' WHERE o_orderstatus = 'F' ZORDER BY (o_orderkey)")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m2("partitions_optimized") == "1")
    assert(DeltaTable.forPath(spark, p).read.count() == want)
  }

  test("OPTIMIZE reads through deletion vectors and clears them") {
    val p = tmp("dv_clear")
    CommitWriter.createTable(spark, orders.limit(200).repartition(2), p,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    graft.commands.DmlCommands.delete(spark, p, col("o_orderkey") % 3 === 0)
    val masked = DeltaTable.forPath(spark, p)
    val expect = masked.read.count()
    assert(masked.allFiles.where(col("deletionVector").isNotNull)
      .count() >= 1)

    GraftSessionFixture.g.sql(s"OPTIMIZE '$p'")
    val after = DeltaTable.forPath(spark, p)
    // deleted rows must NOT resurrect, and the compacted files carry
    // no DVs (the rewrite applied them)
    assert(after.read.count() == expect)
    assert(after.read.where(col("o_orderkey") % 3 === 0).count() == 0)
    assert(after.allFiles.where(col("deletionVector").isNotNull)
      .count() == 0)
    // protocol hygiene: the compaction removes carry the superseded
    // descriptors, so a VACUUM LITE across a checkpoint can reclaim the
    // orphaned DV files from the tombstones alone
    CommitWriter.checkpoint(spark, p)
    val liteCands = GraftSessionFixture.g
      .sql(s"VACUUM '$p' LITE RETAIN 0 HOURS DRY RUN").collect()
      .map(_.getAs[String]("path"))
    assert(liteCands.exists(_.contains("deletion_vector")),
      s"optimize-orphaned DV missing from LITE candidates: " +
        liteCands.mkString(", "))
  }

  test("OPTIMIZE no-ops when nothing to compact") {
    val p = tmp("noop")
    CommitWriter.createTable(spark, region.repartition(1), p)
    val v = DeltaTable.forPath(spark, p).version
    val metrics = graft.commands.OptimizeCommand
      .optimize(spark, p).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(metrics("files_removed") == "0")
    assert(DeltaTable.forPath(spark, p).version == v) // no empty commit
  }

  test("timestampAsOf resolves the version at a commit mtime") {
    val p = tmp("ts")
    CommitWriter.createTable(spark, region.filter(col("r_regionkey") < 3), p)
    val fs = LogSegment.fs(spark, new Path(p))
    val c0 = new Path(new Path(p, "_delta_log"), LogSegment.commitFileName(0))
    val t0 = fs.getFileStatus(c0).getModificationTime
    Thread.sleep(20)
    CommitWriter.append(spark, region.filter(col("r_regionkey") >= 3), p)
    val atT0 = DeltaTable.forPathAtTimestamp(spark, p, t0)
    assert(atT0.version == 0 && atT0.read.count() == 3)
    val now = DeltaTable.forPathAtTimestamp(spark, p, System.currentTimeMillis())
    assert(now.version == 1)
    intercept[IllegalArgumentException] {
      DeltaTable.forPathAtTimestamp(spark, p, t0 - 100000)
    }
  }

  test("multipart checkpoint is discovered and replayed") {
    val p = tmp("multicp")
    CommitWriter.createTable(spark, region.filter(col("r_regionkey") < 3), p)
    CommitWriter.append(spark, region.filter(col("r_regionkey") >= 3), p)
    // write a classic checkpoint, then split it into 2 multipart files
    CommitWriter.checkpoint(spark, p)
    val logPath = new Path(p, "_delta_log")
    val fs = LogSegment.fs(spark, new Path(p))
    val single = new Path(logPath, LogSegment.checkpointFileName(1))
    val rows = spark.read.parquet(single.toString)
    val parts = Seq(
      rows.where(col("add").isNotNull),
      rows.where(col("add").isNull))
    parts.zipWithIndex.foreach { case (df, i) =>
      val staging = new Path(logPath, s".mp_$i")
      df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = fs.listStatus(staging)
        .find(_.getPath.getName.endsWith(".parquet")).get
      fs.rename(part.getPath,
        new Path(logPath, f"${1L}%020d.checkpoint.${i + 1}%010d.${2}%010d.parquet"))
      fs.delete(staging, true)
    }
    fs.delete(single, false)
    val snap = DeltaTable.forPath(spark, p)
    assert(snap.segment.checkpointVersion.contains(1L))
    assert(snap.segment.checkpointFiles.size == 2)
    assert(snap.read.count() == region.count())
  }

  test("checkpoint(numParts) writes a multipart checkpoint natively") {
    val p = tmp("multicpw")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    CommitWriter.createTable(spark, orders.repartition(4), p)
    CommitWriter.append(spark, orders.limit(10), p)
    CommitWriter.checkpoint(spark, p, parts = 3)
    val snap = DeltaTable.forPath(spark, p)
    assert(snap.segment.checkpointVersion.contains(1L))
    assert(snap.segment.checkpointFiles.size > 1)
    assert(snap.segment.commitFiles.isEmpty) // replays from parts alone
    assert(snap.read.count() == orders.count() + 10)
    // an incomplete part set is ignored: drop one part, reader falls
    // back to commit replay (no checkpoint at all here -> full log)
    val fs = LogSegment.fs(spark, new Path(p))
    fs.delete(snap.segment.checkpointFiles.head.getPath, false)
    graft.delta.log.Replay.ReplayCounters.reset()
    val snap2 = DeltaTable.forPath(spark, p)
    assert(snap2.segment.checkpointVersion.isEmpty)
    assert(snap2.read.count() == orders.count() + 10)
  }
}

/** Shared GraftSession for command tests. */
object GraftSessionFixture {
  lazy val g = graft.GraftSession(TestSpark.spark)
}
