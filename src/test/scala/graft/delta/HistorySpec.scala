package graft.delta

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import org.apache.hadoop.fs.Path
import graft.delta.log.{CommitWriter, LogSegment}

class HistorySpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_hist_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private lazy val region = spark.read.parquet(s"$sf/region.parquet")
  private lazy val g = graft.GraftSession(spark)

  test("DESCRIBE DETAIL reports snapshot metadata") {
    val p = tmp("detail")
    CommitWriter.createTable(spark, region, p,
      partitionColumns = Seq("r_regionkey"))
    CommitWriter.append(spark, region.limit(0), p) // empty commit
    val d = g.sql(s"DESCRIBE DETAIL '$p'").collect().head
    assert(d.getAs[String]("format") == "parquet")
    assert(d.getAs[String]("id").nonEmpty)
    assert(d.getAs[String]("location") == p)
    assert(d.getAs[scala.collection.Seq[String]]("partitionColumns")
      .toSeq == Seq("r_regionkey"))
    assert(d.getAs[scala.collection.Seq[String]]("clusteringColumns")
      .isEmpty)
    assert(d.getAs[Long]("numFiles") == 5L) // one file per region key
    assert(d.getAs[Long]("sizeInBytes") > 0L)
    assert(d.getAs[Int]("minReaderVersion") >= 1)
    assert(d.getAs[Long]("lastModified") >= d.getAs[Long]("createdAt"))
    // clustered tables surface their layout policy in DETAIL
    val pc = tmp("detail_cl")
    CommitWriter.createTable(spark, region, pc,
      clusterBy = Seq("r_regionkey"))
    assert(g.sql(s"DESCRIBE DETAIL '$pc'").collect().head
      .getAs[scala.collection.Seq[String]]("clusteringColumns")
      .toSeq == Seq("r_regionkey"))
  }

  test("DESCRIBE DETAIL's lastModified is the newest HISTORY timestamp on " +
      "a copied ICT log") {
    val p = tmp("detail_ict")
    CommitWriter.createTable(spark, region.limit(1), p,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    CommitWriter.append(spark, region.limit(2), p)
    // a log copy resets the commit mtimes; the ICTs stay
    val fs = LogSegment.fs(spark, new Path(p))
    Seq(0L, 1L).foreach(v => fs.setTimes(new Path(p,
      s"_delta_log/${LogSegment.commitFileName(v)}"), 1000000L + v, -1))
    val newest = g.sql(s"DESCRIBE HISTORY '$p'").collect()
      .map(_.getLong(1)).max
    assert(newest > 1000001L, "HISTORY fell back to the mtimes")
    val d = g.sql(s"DESCRIBE DETAIL '$p'").collect().head
    assert(d.getAs[Long]("lastModified") == newest)
  }

  test("DESCRIBE HISTORY lists commits newest-first with operations") {
    val p = tmp("hist")
    CommitWriter.createTable(spark, region.limit(2), p)
    CommitWriter.append(spark, region.limit(1), p)
    CommitWriter.commitRemoves(spark, p,
      Seq(DeltaTable.forPath(spark, p).allFiles
        .select("path").collect().head.getString(0)))
    val h = g.sql(s"DESCRIBE HISTORY '$p'").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(2L, 1L, 0L))
    assert(h.map(_.getString(2)).toSeq ==
      Seq("DELETE", "WRITE", "CREATE TABLE AS SELECT"))
    assert(h.forall(_.getString(3) == "graft/0.1.0"))
  }

  test("DESCRIBE HISTORY's timestamp resolves to its own version under " +
      "time travel by timestamp") {
    val p = tmp("hist_ts")
    CommitWriter.createTable(spark, region.limit(1), p) // v0
    CommitWriter.append(spark, region.limit(2), p)      // v1
    CommitWriter.append(spark, region.limit(1), p)      // v2
    // no in-commit timestamps: commit mtimes are the clock; set them
    // apart from commitInfo.timestamp, as a log copy leaves them
    val fs = LogSegment.fs(spark, new Path(p))
    val logDir = new Path(p, "_delta_log")
    Seq(0L -> 1000000L, 1L -> 2000000L, 2L -> 3000000L).foreach {
      case (v, t) =>
        fs.setTimes(new Path(logDir, LogSegment.commitFileName(v)), t, -1)
    }
    val ts = g.sql(s"DESCRIBE HISTORY '$p'").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ts(1L) == 2000000L, ts.toString)
    assert(DeltaTable.forPathAtTimestamp(spark, p, ts(1L)).version == 1L)
  }

  test("DESCRIBE HISTORY surfaces recorded operation parameters") {
    val p = tmp("hist_params")
    CommitWriter.createTable(spark, region, p)
    graft.commands.DmlCommands.delete(spark, p, col("r_regionkey") === 4)
    graft.commands.MergeCommand.upsert(spark, p,
      region.limit(1).withColumn("r_name",
        org.apache.spark.sql.functions.lit("X")), Seq("r_regionkey"))
    val h = g.sql(s"DESCRIBE HISTORY '$p'")
      .select("operation", "operation_parameters").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(h("MERGE").exists(s =>
      s.contains("\"mergeKeys\":\"r_regionkey\"") &&
        s.contains("predicate")), h("MERGE").toString)
    assert(h("DELETE").exists(_.contains("predicate")))
    assert(h("CREATE TABLE AS SELECT").isEmpty) // none recorded
  }

  test("RESTORE VERSION AS OF rolls the table back as a new commit") {
    val p = tmp("restore")
    CommitWriter.createTable(spark, region.filter(col("r_regionkey") < 2), p)
    CommitWriter.append(spark, region.filter(col("r_regionkey") >= 2), p)
    assert(DeltaTable.forPath(spark, p).read.count() == region.count())

    val out = g.sql(s"RESTORE '$p' TO VERSION AS OF 0").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("restored_to_version") == "0")
    assert(out("files_removed").toInt >= 1)

    val restored = DeltaTable.forPath(spark, p)
    assert(restored.version == 2)
    assert(restored.read.count() == 2)
    // the restore itself is time-travelable: v1 still has all rows
    assert(DeltaTable.forPath(spark, p, Some(1)).read.count() ==
      region.count())
    // restoring forward fails
    intercept[IllegalArgumentException] {
      g.sql(s"RESTORE '$p' VERSION AS OF 9")
    }
  }

  test("restore collects only the diff, not the inventories") {
    val p = tmp("restore_diff")
    // 4 stable files + 1 appended: restoring to v0 diffs exactly 1 file
    CommitWriter.createTable(spark, region.repartition(4), p)
    CommitWriter.append(spark, region.limit(1).repartition(1), p)
    val inventory = DeltaTable.forPath(spark, p).allFiles.count()
    assert(inventory >= 5)

    val out = g.sql(s"RESTORE '$p' TO VERSION AS OF 0").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val diff = out("files_removed").toLong + out("files_added").toLong
    assert(diff == 1)
    // the driver saw the DIFF rows, not either version's full inventory
    assert(graft.commands.HistoryCommand.collectedForTest == diff,
      s"restore collected ${graft.commands.HistoryCommand.collectedForTest} " +
        s"rows for a $diff-file diff over a $inventory-file table")
  }

  test("SHOW CATALOGS lists the registry") {
    graft.catalog.LocalCatalog.clear()
    g.sql("CREATE CATALOG show_a COMMENT 'first'")
    g.sql("CREATE CATALOG show_b MANAGED LOCATION 's3://x/y'")
    val rows = g.sql("SHOW CATALOGS").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("show_a", "show_b"))
    assert(rows(0).getString(1) == "first")
    assert(rows(1).getString(2) == "s3://x/y")
    g.sql("DROP CATALOG show_a")
    g.sql("DROP CATALOG show_b")
  }

  test("restore republishes an older schema") {
    val p = tmp("restore_schema")
    val narrow = region.select("r_regionkey")
    CommitWriter.createTable(spark, narrow, p)
    val meta0 = DeltaTable.forPath(spark, p).metadata
    CommitWriter.commitMetadata(spark, p,
      meta0.copy(schemaString = region.schema.json))
    CommitWriter.append(spark, region, p)
    assert(DeltaTable.forPath(spark, p).schema.fieldNames.length == 2)
    g.sql(s"RESTORE '$p' TO VERSION AS OF 0")
    val restored = DeltaTable.forPath(spark, p)
    assert(restored.schema.fieldNames.toSeq == Seq("r_regionkey"))
    assert(restored.read.count() == region.count())
  }
}
