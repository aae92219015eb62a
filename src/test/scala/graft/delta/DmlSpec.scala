package graft.delta

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.commands.DmlCommands
import graft.delta.log.CommitWriter

class DmlSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_dml_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private lazy val orders = spark.read.parquet(s"$sf/orders.parquet")

  test("DELETE WHERE removes matching rows, touches only affected files") {
    val p = tmp("delete")
    val n = orders.count()
    // two files split by key median
    val med = orders.stat.approxQuantile("o_orderkey", Array(0.5), 0.0)(0)
    CommitWriter.createTable(spark,
      orders.filter(col("o_orderkey") <= med).repartition(1), p)
    CommitWriter.append(spark,
      orders.filter(col("o_orderkey") > med).repartition(1), p)

    val metrics = DmlCommands.delete(spark, p, col("o_orderkey") < 5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(metrics("files_rewritten").toInt == 1) // only the low file

    val after = DeltaTable.forPath(spark, p)
    assert(after.read.count() == n - 5)
    assert(after.read.where(col("o_orderkey") < 5).count() == 0)
    // pre-delete version intact
    assert(DeltaTable.forPath(spark, p, Some(1)).read.count() == n)
  }

  test("affectedRelPaths collects only the affected files, not the inventory") {
    val p = tmp("bounded_collect")
    // many-file fixture: 20 single-row-group files over disjoint key
    // ranges; a one-range DELETE must not pull all 20 paths to the
    // driver (the 100 TB contract: driver state is O(affected), never
    // O(live files))
    val slice = orders.limit(200).cache()
    CommitWriter.createTable(spark,
      slice.where(col("o_orderkey") % 20 === 0).repartition(1), p)
    for (i <- 1 until 20)
      CommitWriter.append(spark,
        slice.where(col("o_orderkey") % 20 === i).repartition(1), p)
    val live = DeltaTable.forPath(spark, p).allFiles.count()
    assert(live == 20, s"fixture expected 20 live files, got $live")
    val victim = slice.where(col("o_orderkey") % 20 === 3)
      .select("o_orderkey").head.getLong(0)
    DmlCommands.collectedPathsForTest.set(-1)
    DmlCommands.delete(spark, p, col("o_orderkey") === victim)
    // exactly the one affected file's path crossed the driver boundary
    assert(DmlCommands.collectedPathsForTest.get() == 1,
      s"collected ${DmlCommands.collectedPathsForTest.get()} paths for a " +
        "single-file DELETE")
    slice.unpersist()
  }

  test("DV DELETE's file-info collect is bounded to the affected files") {
    val p = tmp("bounded_dv_collect")
    val slice = orders.limit(200).cache()
    CommitWriter.createTable(spark,
      slice.where(col("o_orderkey") % 20 === 0).repartition(1), p,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    for (i <- 1 until 20)
      CommitWriter.append(spark,
        slice.where(col("o_orderkey") % 20 === i).repartition(1), p)
    assert(DeltaTable.forPath(spark, p).allFiles.count() == 20)
    val victim = slice.where(col("o_orderkey") % 20 === 3)
      .select("o_orderkey").head.getLong(0)
    DmlCommands.collectedInfoForTest.set(-1)
    DmlCommands.delete(spark, p, col("o_orderkey") === victim)
    // one masked file ⇒ exactly one AddFile row crossed the driver
    assert(DmlCommands.collectedInfoForTest.get() == 1,
      s"collected ${DmlCommands.collectedInfoForTest.get()} file-info " +
        "rows for a single-file DV DELETE")
    slice.unpersist()
  }

  test("DELETE with no matches is a no-op (no new commit)") {
    val p = tmp("delete_noop")
    CommitWriter.createTable(spark, orders.limit(50), p)
    val v = DeltaTable.forPath(spark, p).version
    val metrics = DmlCommands.delete(spark, p, col("o_orderkey") < -1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(metrics("files_rewritten") == "0")
    assert(DeltaTable.forPath(spark, p).version == v)
  }

  test("UPDATE SET applies only to matching rows") {
    val p = tmp("update")
    CommitWriter.createTable(spark, orders.repartition(2), p)
    DmlCommands.update(spark, p,
      condition = col("o_orderstatus") === "P",
      set = Map(
        "o_totalprice" -> (col("o_totalprice") + 1),
        "o_orderpriority" -> lit("BUMPED")))
    val after = DeltaTable.forPath(spark, p).read
    val want = orders
      .withColumn("o_totalprice",
        when(col("o_orderstatus") === "P", col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority",
        when(col("o_orderstatus") === "P", lit("BUMPED"))
          .otherwise(col("o_orderpriority")))
    assert(after.orderBy("o_orderkey").collect().toSeq ==
      want.orderBy("o_orderkey").collect().toSeq)
  }

  test("DELETE on a partitioned table keeps partition layout") {
    val p = tmp("delete_part")
    CommitWriter.createTable(spark, orders, p,
      partitionColumns = Seq("o_orderstatus"))
    DmlCommands.delete(spark, p, col("o_custkey") % 7 === 0)
    val after = DeltaTable.forPath(spark, p)
    assert(after.read.count() ==
      orders.filter(!(col("o_custkey") % 7 === 0)).count())
    assert(after.readWhere(col("o_orderstatus") === "F").count() ==
      orders.filter(col("o_orderstatus") === "F" &&
        !(col("o_custkey") % 7 === 0)).count())
  }

  // ---- merge-on-read (deletion-vector) DML ---------------------------

  private val dvProps = Map("delta.enableDeletionVectors" -> "true")

  test("DV DELETE masks rows without rewriting any data file") {
    val p = tmp("dv_delete")
    val n = orders.count()
    val med = orders.stat.approxQuantile("o_orderkey", Array(0.5), 0.0)(0)
    CommitWriter.createTable(spark,
      orders.filter(col("o_orderkey") <= med).repartition(1), p,
      configuration = dvProps)
    CommitWriter.append(spark,
      orders.filter(col("o_orderkey") > med).repartition(1), p)
    val before = DeltaTable.forPath(spark, p)
    val dataFiles = before.allFiles.select("path", "modificationTime")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val hit = orders.where(col("o_orderkey") < 5).count()
    val metrics = DmlCommands.delete(spark, p, col("o_orderkey") < 5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(metrics("files_rewritten") == "0")
    assert(metrics("files_dv_masked") == "1") // only the low file
    assert(metrics("rows_affected").toLong == hit)

    val after = DeltaTable.forPath(spark, p)
    assert(after.read.count() == n - hit)
    assert(after.read.where(col("o_orderkey") < 5).count() == 0)
    // both original data files survive BY IDENTITY (path + mtime)
    val afterFiles = after.allFiles.select("path", "modificationTime")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterFiles == dataFiles)
    // the masked entry carries a DV descriptor
    val dv = after.allFiles.where(col("deletionVector").isNotNull)
    assert(dv.count() == 1)
    assert(dv.select("deletionVector.cardinality").head.getLong(0) == hit)
    // metadata-only count subtracts the DV
    assert(after.statsRowCount.contains(n - hit))
    // per PROTOCOL a DV-bearing file's stats are wide: tightBounds
    // false, numRecords still the PHYSICAL row count
    val stats = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(dv.select("stats").head.getString(0))
    assert(!stats.get("tightBounds").asBoolean(true),
      "DV-bearing AddFile must declare tightBounds:false")
    assert(stats.get("numRecords").asLong() ==
      orders.filter(col("o_orderkey") <= med).count(),
      "numRecords must stay the physical count under a DV")
    // time travel to the pre-delete version still sees every row
    assert(DeltaTable.forPath(spark, p, Some(1)).read.count() == n)
  }

  test("second DV DELETE merges with the existing deletion vector") {
    val p = tmp("dv_merge")
    CommitWriter.createTable(spark, orders.repartition(1), p,
      configuration = dvProps)
    val n = orders.count()
    DmlCommands.delete(spark, p, col("o_orderkey") < 5)
    DmlCommands.delete(spark, p,
      col("o_orderkey") >= 5 && col("o_orderkey") < 12)
    val after = DeltaTable.forPath(spark, p)
    val expect = orders.where(col("o_orderkey") >= 12).count()
    assert(after.read.count() == expect)
    val dv = after.allFiles.select("deletionVector.cardinality")
      .collect().map(_.getLong(0))
    assert(dv.toSeq == Seq(n - expect)) // one file, one merged DV
  }

  test("DV DELETE that empties a file drops the file outright") {
    val p = tmp("dv_full")
    val med = orders.stat.approxQuantile("o_orderkey", Array(0.5), 0.0)(0)
    CommitWriter.createTable(spark,
      orders.filter(col("o_orderkey") <= med).repartition(1), p,
      configuration = dvProps)
    CommitWriter.append(spark,
      orders.filter(col("o_orderkey") > med).repartition(1), p)
    val metrics = DmlCommands.delete(spark, p, col("o_orderkey") <= med)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(metrics("files_fully_removed") == "1")
    assert(metrics("files_dv_masked") == "0")
    val after = DeltaTable.forPath(spark, p)
    assert(after.allFiles.count() == 1)
    assert(after.read.count() ==
      orders.filter(col("o_orderkey") > med).count())
  }

  test("DV UPDATE masks old versions and writes new row images") {
    val p = tmp("dv_update")
    CommitWriter.createTable(spark, orders.repartition(2), p,
      configuration = dvProps)
    val metrics = DmlCommands.update(spark, p,
      condition = col("o_orderstatus") === "P",
      set = Map("o_orderpriority" -> lit("BUMPED")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(metrics("files_rewritten") == "0")
    assert(metrics("files_added").toInt >= 1)
    val after = DeltaTable.forPath(spark, p).read
    val want = orders.withColumn("o_orderpriority",
      when(col("o_orderstatus") === "P", lit("BUMPED"))
        .otherwise(col("o_orderpriority")))
    assert(after.orderBy("o_orderkey").collect().toSeq ==
      want.orderBy("o_orderkey").collect().toSeq)
  }

  test("enabling DVs declares the protocol feature; create does too") {
    // at creation
    val p = tmp("dv_proto")
    CommitWriter.createTable(spark, orders.limit(10), p,
      configuration = dvProps)
    val proto = DeltaTable.forPath(spark, p).protocol
    assert(proto.minReaderVersion == 3 && proto.minWriterVersion == 7)
    assert(proto.readerFeatures.get.contains("deletionVectors"))
    assert(proto.writerFeatures.get.contains("deletionVectors"))

    // via ALTER TABLE SET TBLPROPERTIES on a legacy-protocol table
    val p2 = tmp("dv_proto_alter")
    CommitWriter.createTable(spark, orders.limit(10), p2)
    val g = graft.GraftSession(spark)
    g.sql(s"ALTER TABLE '$p2' SET TBLPROPERTIES " +
      "('delta.enableDeletionVectors' = 'true')")
    val snap2 = DeltaTable.forPath(spark, p2)
    assert(snap2.protocol.minReaderVersion == 3)
    assert(snap2.protocol.readerFeatures.get.contains("deletionVectors"))
    // the implied legacy writer obligations survive the upgrade
    assert(snap2.protocol.writerFeatures.get.toSet
      .intersect(Set("appendOnly", "invariants")) ==
      Set("appendOnly", "invariants"))
    // and the DV path now engages
    DmlCommands.delete(spark, p2, col("o_orderkey") % 2 === 0)
    assert(DeltaTable.forPath(spark, p2).allFiles
      .where(col("deletionVector").isNotNull).count() >= 1)
  }

  test("CDF tables write cdc files; DV DELETE serves the feed from them") {
    val p = tmp("cdf_dv")
    val region = spark.read.parquet(s"$sf/region.parquet")
    CommitWriter.createTable(spark, region, p,
      configuration = Map(
        "delta.enableDeletionVectors" -> "true",
        "delta.enableChangeDataFeed" -> "true"))
    // CDF at create declares the writer feature from version 0
    assert(DeltaTable.forPath(spark, p).protocol.writerFeatures
      .exists(_.contains("changeDataFeed")))
    DmlCommands.delete(spark, p, col("r_regionkey") === 2) // v1, DV + cdc
    DmlCommands.update(spark, p, col("r_regionkey") === 4,
      Map("r_name" -> lit("RENAMED"))) // v2, DV + cdc
    // cdc files landed under _change_data
    val cdcDir = new java.io.File(p, "_change_data")
    assert(cdcDir.isDirectory && cdcDir.listFiles().nonEmpty)
    val feed = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "1")
      .option("readChangeFeed", "true").load()
      .select("r_regionkey", "r_name", "_change_type", "_commit_version")
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getString(1),
        r.getString(2), r.getAs[Number](3).longValue())).toSet
    val oldName = region.where(col("r_regionkey") === 4)
      .select("r_name").head.getString(0)
    val deletedName = region.where(col("r_regionkey") === 2)
      .select("r_name").head.getString(0)
    assert(feed == Set(
      (2L, deletedName, "delete", 1L),
      (4L, oldName, "update_preimage", 2L),
      (4L, "RENAMED", "update_postimage", 2L)))
  }

  test("CDC files on a PARTITIONED table carry partition columns") {
    val p = tmp("cdf_part")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    CommitWriter.createTable(spark, nation, p,
      partitionColumns = Seq("n_regionkey"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DmlCommands.delete(spark, p, col("n_nationkey") === 5) // v1
    val region5 = nation.where(col("n_nationkey") === 5)
      .select("n_regionkey").head.getAs[Number](0).longValue()
    val rows = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "1")
      .option("readChangeFeed", "true").load()
      .select("n_nationkey", "n_regionkey", "_change_type")
      .collect().map(r => (r.getAs[Number](0).longValue(),
        r.getAs[Number](1).longValue(), r.getString(2))).toSet
    assert(rows == Set((5L, region5, "delete")))
  }

  test("DV DELETE works on a column-mapped table (no rewrite needed)") {
    val p = tmp("dv_mapped")
    val df = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    CommitWriter.createTableMapped(spark, df, p)
    val g = graft.GraftSession(spark)
    g.sql(s"ALTER TABLE '$p' SET TBLPROPERTIES " +
      "('delta.enableDeletionVectors' = 'true')")
    DmlCommands.delete(spark, p, col("o_orderkey") < 100)
    val after = DeltaTable.forPath(spark, p).read
    assert(after.count() == df.where(col("o_orderkey") >= 100).count())
    assert(after.where(col("o_orderkey") < 100).count() == 0)
  }

  test("CoW DELETE on a column-mapped DV-less table rewrites via " +
    "physical names") {
    val p = tmp("cow_mapped")
    val df = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    CommitWriter.createTableMapped(spark, df.repartition(1), p)
    DmlCommands.delete(spark, p, col("o_orderkey") < 100)
    val snap = DeltaTable.forPath(spark, p)
    val after = snap.read
    assert(after.count() == df.where(col("o_orderkey") >= 100).count())
    assert(after.where(col("o_orderkey") < 100).count() == 0)
    // the survivor rewrite landed with PHYSICAL names
    val live = snap.allFiles.select("path").collect().map(_.getString(0))
    live.foreach { rel =>
      val cols = spark.read.parquet(s"$p/$rel").columns.toSet
      assert(cols == Set("col-1", "col-2", "col-3"), s"$rel: $cols")
    }
  }

  test("CoW UPDATE on a column-mapped table rewrites and preserves " +
    "untouched values") {
    val p = tmp("upd_mapped")
    val df = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    CommitWriter.createTableMapped(spark, df.repartition(1), p)
    DmlCommands.update(spark, p, col("o_orderkey") < 50,
      Map("o_totalprice" -> lit(7.25)))
    val after = DeltaTable.forPath(spark, p).read
    assert(after.count() == df.count())
    assert(after.where(col("o_orderkey") < 50)
      .select("o_totalprice").distinct().head.getDouble(0) == 7.25)
    val expect = df.where(col("o_orderkey") >= 50)
      .agg(sum("o_totalprice")).head.getDouble(0)
    val got = after.where(col("o_orderkey") >= 50)
      .agg(sum("o_totalprice")).head.getDouble(0)
    assert(math.abs(expect - got) < 1e-6)
  }

  test("mapped + partitioned table: physical hive layout, correct " +
    "partition values on read, partition-pruned DELETE") {
    val p = tmp("mapped_part")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    CommitWriter.createTableMapped(spark, nation, p,
      partitionColumns = Seq("n_regionkey"))
    val snap0 = DeltaTable.forPath(spark, p)
    // hive dirs + partitionValues key by PHYSICAL name (col-3)
    val paths = snap0.allFiles.select("path").collect().map(_.getString(0))
    assert(paths.nonEmpty && paths.forall(_.startsWith("col-3=")), paths.head)
    // logical read round-trips values, partition column included
    assert(snap0.read.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
    // a partition predicate prunes to the partition's files
    val kept = graft.delta.scan.DeltaScan.prunedFiles(snap0,
      Seq(col("n_regionkey") === 2)).count()
    assert(kept < snap0.allFiles.count() && kept >= 1)
    // DML: delete one region; survivors' values and partitions intact
    DmlCommands.delete(spark, p, col("n_regionkey") === 2)
    val after = DeltaTable.forPath(spark, p).read
    assert(after.count() == nation.where(col("n_regionkey") =!= 2).count())
    assert(after.where(col("n_regionkey") === 2).count() == 0)
    assert(after.orderBy("n_nationkey").collect().toSeq ==
      nation.where(col("n_regionkey") =!= 2)
        .orderBy("n_nationkey").collect().toSeq)
  }

  test("MERGE upsert works on a column-mapped table") {
    val p = tmp("merge_mapped")
    val df = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    CommitWriter.createTableMapped(spark, df.repartition(1), p)
    val source = df.where(col("o_orderkey") <= 50)
      .withColumn("o_totalprice", lit(11.25))
      .unionByName(spark.range(1).select(
        lit(-1L).as("o_orderkey"), lit("Z").as("o_orderstatus"),
        lit(1.0).as("o_totalprice")))
    graft.commands.MergeCommand.upsert(spark, p, source, Seq("o_orderkey"))
    val after = DeltaTable.forPath(spark, p).read
    assert(after.count() == df.count() + 1)
    assert(after.where(col("o_orderkey") <= 50 && col("o_orderkey") >= 0)
      .select("o_totalprice").distinct().head.getDouble(0) == 11.25)
    assert(after.where(col("o_orderkey") === -1).count() == 1)
    // every live file carries physical names only
    val snap = DeltaTable.forPath(spark, p)
    snap.allFiles.select("path").collect().map(_.getString(0)).foreach {
      rel =>
        val cols = spark.read.parquet(s"$p/$rel").columns.toSet
        assert(cols == Set("col-1", "col-2", "col-3"), s"$rel: $cols")
    }
  }

  test("CDF on a mapped table writes physical-named cdc files; the feed " +
    "reads back logical") {
    val p = tmp("cdf_mapped")
    val df = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    CommitWriter.createTableMapped(spark, df.repartition(1), p)
    val g = graft.GraftSession(spark)
    g.sql(s"ALTER TABLE '$p' SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'true')")
    DmlCommands.delete(spark, p, col("o_orderkey") < 20)
    // cdc parquet carries PHYSICAL names + _change_type
    val cdcDir = new java.io.File(p, "_change_data")
    assert(cdcDir.isDirectory && cdcDir.listFiles().nonEmpty)
    val cdcCols = spark.read.parquet(cdcDir.getAbsolutePath).columns.toSet
    assert(cdcCols == Set("col-1", "col-2", "col-3", "_change_type"),
      cdcCols.toString)
    // the feed resolves them back to logical names
    val feed = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "2")
      .option("readChangeFeed", "true").load()
    val deleted = feed.where(col("_change_type") === "delete")
    assert(deleted.count() == df.where(col("o_orderkey") < 20).count())
    assert(deleted.select("o_orderkey").collect()
      .forall(_.getLong(0) < 20))
  }

  test("DV UPDATE on a column-mapped table masks old rows, writes new " +
    "images physically named") {
    val p = tmp("dvupd_mapped")
    val df = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    CommitWriter.createTableMapped(spark, df.repartition(1), p)
    val g = graft.GraftSession(spark)
    g.sql(s"ALTER TABLE '$p' SET TBLPROPERTIES " +
      "('delta.enableDeletionVectors' = 'true')")
    DmlCommands.update(spark, p, col("o_orderkey") < 50,
      Map("o_totalprice" -> lit(4.5)))
    val snap = DeltaTable.forPath(spark, p)
    // the original file survives under a DV mask
    assert(snap.allFiles.where(col("deletionVector").isNotNull)
      .count() == 1)
    val after = snap.read
    assert(after.count() == df.count())
    assert(after.where(col("o_orderkey") < 50)
      .select("o_totalprice").distinct().head.getDouble(0) == 4.5)
  }

  /** A copy-on-write DELETE over `files` single-row-pair files that
    * rewrites every one of them: commit 1 removes `files` files whose
    * log entries carry no size or mtime. */
  private def cowDeleteEveryFile(name: String, files: Int): String = {
    val p = tmp(name)
    CommitWriter.createTable(spark,
      spark.range(0, 2L * files, 1, files).toDF(), p)
    assert(DeltaTable.forPath(spark, p).allFiles.count() == files)
    DmlCommands.delete(spark, p, col("id") % 2 === 0)
    p
  }

  test("the change feed reads a DELETE's removed files without a " +
      "listing job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // above spark.sql.sources.parallelPartitionDiscovery.threshold (32),
    // where a listing of the removed paths becomes a distributed job
    val p = cowDeleteEveryFile("cdf_no_listing", 34)
    val snap = DeltaTable.forPath(spark, p)
    val sc = spark.sparkContext
    val group = s"cdf-listing-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach(pr => seen.add((
          String.valueOf(pr.getProperty("spark.jobGroup.id")),
          String.valueOf(pr.getProperty("spark.job.description")))))
    }
    sc.addSparkListener(listener)
    val rows = try {
      sc.setJobGroup(group, "change feed")
      val r = try graft.delta.scan.CommitRangeScan
        .changesBetween(spark, p, snap, 0L, 1L)
        .select("id", "_change_type").collect()
      finally sc.clearJobGroup()
      // a marker job shares the listener queue: once it is seen, every
      // earlier job event has been delivered
      sc.setJobGroup(s"$group-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.toArray.exists(_ == ((s"$group-end", "marker"))) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      r
    } finally sc.removeSparkListener(listener)
    val listings = seen.toArray.collect {
      case (g: String, d: String)
          if g == group && d.startsWith("Listing leaf files") => d
    }
    assert(listings.isEmpty, s"listing jobs: ${listings.mkString("; ")}")
    assert(rows.map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      (0L until 68L by 2L).map(_ -> "delete"))
  }

  test("a removed file deleted out of band fails the change feed with " +
      "an error naming the file and the table") {
    val p = cowDeleteEveryFile("cdf_missing_file", 3)
    val snap = DeltaTable.forPath(spark, p)
    val logDir = new java.io.File(p, "_delta_log")
    val commit1 = scala.io.Source.fromFile(
      new java.io.File(logDir, f"${1}%020d.json"))
    val removed = try commit1.getLines()
      .filter(_.contains("\"remove\"")).map { l =>
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
          .get("remove").get("path").asText()
      }.toVector finally commit1.close()
    assert(removed.length == 3)
    assert(new java.io.File(p, removed.head).delete())
    val e = intercept[IllegalStateException] {
      graft.delta.scan.CommitRangeScan
        .changesBetween(spark, p, snap, 0L, 1L).collect()
    }
    assert(e.getMessage.contains(removed.head), e.getMessage)
    assert(e.getMessage.contains(p), e.getMessage)
  }
}
