package graft.delta

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.delta.log._
import graft.delta.scan.DvBitmap

class DeltaSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private lazy val region = spark.read.parquet(s"$sf/region.parquet")
  private lazy val nation = spark.read.parquet(s"$sf/nation.parquet")
  private lazy val orders = spark.read.parquet(s"$sf/orders.parquet")

  test("delta.appendOnly blocks DML and overwrite, allows appends + OPTIMIZE") {
    val path = tmpTable("appendonly")
    CommitWriter.createTable(spark, region, path,
      configuration = Map("delta.appendOnly" -> "true"))
    CommitWriter.append(spark, region.limit(1), path) // appends fine
    intercept[IllegalArgumentException] {
      graft.commands.DmlCommands.delete(spark, path,
        col("r_regionkey") === 0)
    }
    intercept[IllegalArgumentException] {
      CommitWriter.overwrite(spark, region, path)
    }
    // OPTIMIZE removes carry dataChange=false: compaction is allowed
    graft.commands.OptimizeCommand.optimize(spark, path)
    val snap = DeltaTable.forPath(spark, path)
    assert(snap.read.count() == region.count() + 1)
  }

  test("append rejects unknown columns and type conflicts, allows subsets") {
    val path = tmpTable("writeschema")
    CommitWriter.createTable(spark, region, path)
    // unknown column
    val e1 = intercept[IllegalArgumentException] {
      CommitWriter.append(spark,
        region.withColumnRenamed("r_name", "r_nmae"), path)
    }
    assert(e1.getMessage.contains("r_nmae"))
    // type conflict
    val e2 = intercept[IllegalArgumentException] {
      CommitWriter.append(spark,
        region.withColumn("r_name", col("r_regionkey")), path)
    }
    assert(e2.getMessage.contains("r_name"))
    // subset write is the standard contract: reads impute null by name
    CommitWriter.append(spark, region.select("r_regionkey").limit(1), path)
    val snap = DeltaTable.forPath(spark, path)
    assert(snap.read.count() == region.count() + 1)
    assert(snap.read.where(col("r_name").isNull).count() == 1)
  }

  test("statsRowCount answers count from metadata, DV-adjusted") {
    val path = tmpTable("statscount")
    CommitWriter.createTable(spark, region, path)
    CommitWriter.append(spark, region.limit(2), path)
    val snap = DeltaTable.forPath(spark, path)
    assert(snap.statsRowCount.contains(snap.read.count()))
    // DV fixture: masked rows must subtract
    val dvPath = graft.queries.DeltaQueries.dvTable(spark, sf)
    val dvSnap = DeltaTable.forPath(spark, dvPath)
    assert(dvSnap.statsRowCount.contains(dvSnap.read.count()))
    // the DV cardinality was genuinely subtracted (raw numRecords is
    // the full pre-mask customer count)
    assert(dvSnap.statsRowCount.get <
      spark.read.parquet(s"$sf/customer.parquet").count())
  }

  test("statsNumericRange answers min/max from metadata, refuses DVs") {
    val path = tmpTable("statsrange")
    CommitWriter.createTable(spark, orders, path)
    val snap = DeltaTable.forPath(spark, path)
    val got = snap.statsNumericRange("o_totalprice").get
    val want = orders.agg(
      org.apache.spark.sql.functions.min("o_totalprice"),
      org.apache.spark.sql.functions.max("o_totalprice")).head
    assert(got == ((want.getDouble(0), want.getDouble(1))))
    // a DV-masked table cannot prove the extremes still exist
    val dvSnap = DeltaTable.forPath(spark,
      graft.queries.DeltaQueries.dvTable(spark, sf))
    assert(dvSnap.statsNumericRange("c_acctbal").isEmpty)
    // unknown column: stats absent -> None, not a wrong answer
    assert(snap.statsNumericRange("no_such_col").isEmpty)
  }

  test("create + read round-trip") {
    val path = tmpTable("roundtrip")
    CommitWriter.createTable(spark, region, path)
    val snap = DeltaTable.forPath(spark, path)
    assert(snap.version == 0)
    assert(snap.schema.fieldNames.toSeq == region.schema.fieldNames.toSeq)
    val got = snap.read.orderBy("r_regionkey").collect()
    val want = region.orderBy("r_regionkey").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("append + time travel") {
    val path = tmpTable("append")
    CommitWriter.createTable(spark, region.filter(col("r_regionkey") < 3), path)
    CommitWriter.append(spark, region.filter(col("r_regionkey") >= 3), path)
    val latest = DeltaTable.forPath(spark, path)
    assert(latest.version == 1)
    assert(latest.read.count() == region.count())
    val v0 = DeltaTable.forPath(spark, path, versionAsOf = Some(0))
    assert(v0.read.count() == region.filter(col("r_regionkey") < 3).count())
  }

  test("remove files (delete) reconciles") {
    val path = tmpTable("remove")
    CommitWriter.createTable(spark, region.filter(col("r_regionkey") < 3), path)
    CommitWriter.append(spark, region.filter(col("r_regionkey") >= 3), path)
    val snap = DeltaTable.forPath(spark, path)
    // remove the files added by commit 1
    val v1Files = snap.allFiles
      .where(col("commit_version") === 1).select("path")
      .collect().map(_.getString(0)).toSeq
    assert(v1Files.nonEmpty)
    CommitWriter.commitRemoves(spark, path, v1Files)
    val after = DeltaTable.forPath(spark, path)
    assert(after.version == 2)
    assert(after.read.count() ==
      region.filter(col("r_regionkey") < 3).count())
  }

  test("checkpoint + replay from checkpoint") {
    val path = tmpTable("checkpoint")
    CommitWriter.createTable(spark, nation.filter(col("n_nationkey") < 5), path)
    for (i <- 1 to 3)
      CommitWriter.append(spark,
        nation.filter(col("n_nationkey") >= i * 5 && col("n_nationkey") < (i + 1) * 5),
        path)
    val cpv = CommitWriter.checkpoint(spark, path)
    assert(cpv == 3)
    assert(Actions.mapper.readTree(new java.io.File(path,
      "_delta_log/_last_checkpoint")).get("version").asLong() == 3L)
    // one more commit after the checkpoint
    CommitWriter.append(spark, nation.filter(col("n_nationkey") >= 20), path)
    val snap = DeltaTable.forPath(spark, path)
    assert(snap.version == 4)
    assert(snap.segment.checkpointVersion.contains(3L))
    assert(snap.segment.commitFiles.size == 1)
    assert(snap.read.count() == nation.count())
    // time travel to a pre-checkpoint version still works (replays commits)
    val v1 = DeltaTable.forPath(spark, path, versionAsOf = Some(1))
    assert(v1.read.count() == 10)
  }

  test("partitioned table: pruning via partitionValues") {
    val path = tmpTable("partitioned")
    CommitWriter.createTable(spark, orders, path,
      partitionColumns = Seq("o_orderstatus"))
    val snap = DeltaTable.forPath(spark, path)
    assert(snap.partitionColumns == Seq("o_orderstatus"))
    // full read matches
    assert(snap.read.count() == orders.count())
    // partition-pruned file list
    val pruned = graft.delta.scan.DeltaScan.prunedFiles(snap,
      Seq(col("o_orderstatus") === "F"))
    val allCount = snap.allFiles.count()
    assert(pruned.count() < allCount)
    // and the filtered read is correct
    val got = snap.readWhere(col("o_orderstatus") === "F")
    assert(got.count() == orders.filter(col("o_orderstatus") === "F").count())
    assert(got.schema.fieldNames.toSeq == orders.schema.fieldNames.toSeq)
  }

  test("a partitioned append stats its staged part files without " +
      "re-reading the staging dir") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import spark.implicits._
    val path = tmpTable("staged_stats")
    CommitWriter.createTable(spark,
      Seq((0L, "seed", "c")).toDF("n", "s", "part"), path,
      partitionColumns = Seq("part"))
    // Spark's DataSource warns when every path it is given is hidden
    // (".staging_*"): a stats pass that re-reads the staging dir logs it
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[Logger]
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("staging-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val level = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(Level.WARN)
    try CommitWriter.append(spark, Seq((1L, "x", "a b"), (2L, "y", "a b"),
        (3L, null, "a b"), (10L, "z", "c")).toDF("n", "s", "part")
        .repartition(1), path)
    finally {
      logger.removeAppender(capture)
      logger.setLevel(level)
      capture.stop()
    }
    assert(!warnings.toArray.exists(_.toString.contains("paths were ignored")),
      warnings.toArray.mkString("; "))
    val appended = DeltaTable.forPath(spark, path).allFiles
      .where(col("commit_version") === 1)
      .select(col("partitionValues")("part"), col("stats")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(appended == Map(
      "a b" -> ("{\"numRecords\":3,\"minValues\":{\"n\":1,\"s\":\"x\"}," +
        "\"maxValues\":{\"n\":3,\"s\":\"y\"},\"nullCount\":{\"n\":0,\"s\":1}}"),
      "c" -> ("{\"numRecords\":1,\"minValues\":{\"n\":10,\"s\":\"z\"}," +
        "\"maxValues\":{\"n\":10,\"s\":\"z\"}," +
        "\"nullCount\":{\"n\":0,\"s\":0}}")))
  }

  test("stats-based file skipping prunes files") {
    val path = tmpTable("skipping")
    // write 4 files with disjoint o_orderkey ranges
    val parts = (0 until 4).map(i =>
      orders.filter(col("o_orderkey") % 4 === i))
    CommitWriter.createTable(spark, parts.head.repartition(1), path)
    parts.tail.foreach(p => CommitWriter.append(spark, p.repartition(1), path))
    val snap = DeltaTable.forPath(spark, path)
    val total = snap.allFiles.count()
    assert(total >= 4)
    val lo = orders.agg(min("o_orderkey")).head().getLong(0)
    val pruned = graft.delta.scan.DeltaScan.prunedFiles(snap,
      Seq(col("o_orderkey") === lo))
    assert(pruned.count() < total)
    assert(snap.readWhere(col("o_orderkey") === lo).count() ==
      orders.filter(col("o_orderkey") === lo).count())
  }

  test("schema evolution: added column imputed as null") {
    val path = tmpTable("evolution")
    CommitWriter.createTable(spark, region, path)
    val meta0 = DeltaTable.forPath(spark, path).metadata
    val newSchema = region.schema.add(StructField("r_comment", StringType))
    CommitWriter.commitMetadata(spark, path,
      meta0.copy(schemaString = newSchema.json))
    CommitWriter.append(spark,
      region.withColumn("r_comment", concat(lit("c-"), col("r_name"))), path)
    val snap = DeltaTable.forPath(spark, path)
    assert(snap.schema.fieldNames.contains("r_comment"))
    val rows = snap.read.collect()
    assert(rows.length == region.count() * 2)
    val nulls = snap.read.where(col("r_comment").isNull).count()
    assert(nulls == region.count()) // old files impute null
  }

  test("column mapping: physical names in parquet, logical in result") {
    val path = tmpTable("colmap")
    // build a column-mapped table by hand: physical names col-<i>
    val physical = region.toDF("col-1", "col-2")
    val adds = CommitWriter.writeFiles(spark, physical, path, Seq.empty)
    val mappedSchema = StructType(Seq(
      StructField("r_regionkey", IntegerType, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-1")
          .putLong("delta.columnMapping.id", 1).build()),
      StructField("r_name", StringType, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-2")
          .putLong("delta.columnMapping.id", 2).build())))
    val meta = Actions.Metadata(
      id = java.util.UUID.randomUUID().toString, name = None,
      description = None, format = Actions.Format(),
      schemaString = mappedSchema.json, partitionColumns = Seq.empty,
      configuration = Map("delta.columnMapping.mode" -> "name"),
      createdTime = Some(0L))
    CommitWriter.commit(spark, path, 0L,
      Seq(CommitWriter.protocolJson(Actions.Protocol(2, 5)),
        CommitWriter.metadataJson(meta)) ++ adds.map(CommitWriter.addJson),
      operation = "CREATE")
    val snap = DeltaTable.forPath(spark, path)
    assert(snap.schema.fieldNames.toSeq == Seq("r_regionkey", "r_name"))
    val got = snap.read.orderBy("r_regionkey").collect()
    val want = region.orderBy("r_regionkey").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("deletion vectors: rows masked out") {
    val path = tmpTable("dv")
    CommitWriter.createTable(spark, region.repartition(1), path)
    val snap0 = DeltaTable.forPath(spark, path)
    val add0 = snap0.allFiles.collect().head
    val relPath = add0.getAs[String]("path")
    // delete row indexes 0 and 2 of the single file
    val fs = LogSegment.fs(spark, new Path(path))
    val dv = DvBitmap.writeDvFile(fs, new Path(path), Seq(0L, 2L))
    // re-add the file with the DV attached (remove + add, same commit)
    val addJson = CommitWriter.addJson(Actions.AddFile(
      path = relPath,
      partitionValues = Map.empty,
      size = add0.getAs[Long]("size"),
      modificationTime = add0.getAs[Long]("modificationTime"),
      dataChange = false, stats = Option(add0.getAs[String]("stats")),
      deletionVector = Some(dv)))
    val removeJson = CommitWriter.removeJson(Actions.RemoveFile(
      relPath, Some(System.currentTimeMillis()), dataChange = false))
    CommitWriter.commit(spark, path, 1L, Seq(removeJson, addJson), "DELETE")
    val snap = DeltaTable.forPath(spark, path)
    assert(snap.read.count() == region.count() - 2)
  }

  test("DV bitmap formats round-trip") {
    val idx = Seq(0L, 5L, 100L, 65536L, 65537L, 1000000L)
    val bytes = DvBitmap.serialize(idx)
    val bm = DvBitmap.deserialize(bytes)
    assert(idx.forall(bm.contains))
    assert(!bm.contains(1L) && !bm.contains(99L) && !bm.contains(65538L))
    assert(bm.cardinality == idx.size)
    // z85 round-trip
    val data = Array.tabulate[Byte](16)(i => (i * 17).toByte)
    assert(DvBitmap.z85Decode(DvBitmap.z85Encode(data)).toSeq == data.toSeq)
  }

  test("concurrent commit refused (atomic create-no-overwrite)") {
    val path = tmpTable("atomic")
    CommitWriter.createTable(spark, region, path)
    intercept[CommitWriter.ConcurrentCommitException] {
      CommitWriter.commit(spark, path, 0L, Seq.empty, "WRITE")
    }
  }

  test("racing appends all land exactly once via optimistic retry") {
    // the multi-writer shape of a real cluster: blind appends never
    // conflict logically, so every loser of the commit-file race must
    // retry at the new tip and land — no lost rows, no double rows
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = tmpTable("race_append")
    CommitWriter.createTable(spark, region, path)
    val writers = 8
    val futs = (1 to writers).map { i =>
      Future(CommitWriter.append(spark,
        region.withColumn("r_regionkey", col("r_regionkey") + lit(i * 100)),
        path))
    }
    val versions = Await.result(Future.sequence(futs), 180.seconds)
    assert(versions.toSet.size == writers, s"duplicate versions: $versions")
    val snap = DeltaTable.forPath(spark, path)
    assert(snap.version == writers)
    assert(snap.read.count() == region.count() * (writers + 1))
  }

  test("racing idempotent appends: exactly one lands per txn version") {
    // the streaming-sink restart shape: N retries of the same (appId,
    // txnVersion) batch racing — the SetTransaction check must hold
    // under contention (losers re-check idempotence at the new tip)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = tmpTable("race_txn")
    CommitWriter.createTable(spark, region, path)
    val futs = (1 to 8).map { _ =>
      Future(CommitWriter.appendIfAbsent(spark, region.limit(3), path,
        appId = "race-app", txnVersion = 7L))
    }
    val results = Await.result(Future.sequence(futs), 180.seconds)
    assert(results.count(_.isDefined) == 1,
      s"expected exactly one commit, got: $results")
    assert(DeltaTable.forPath(spark, path).read.count() ==
      region.count() + 3)
  }

  test("inline deletion vector (storageType i, z85 payload)") {
    val path = tmpTable("dv_inline")
    CommitWriter.createTable(spark, region.repartition(1)
      .sortWithinPartitions("r_regionkey"), path)
    val snap0 = DeltaTable.forPath(spark, path)
    val add0 = snap0.allFiles.collect().head
    val data = DvBitmap.serialize(Seq(0L))
    // z85 needs length % 4 == 0; pad as the Delta spec prescribes for
    // inline vectors (size field records the real length)
    val padded = data ++ new Array[Byte]((4 - data.length % 4) % 4)
    val dv = Actions.DeletionVectorDescriptor(
      "i", DvBitmap.z85Encode(padded), None, data.length, 1L)
    CommitWriter.commit(spark, path, 1L, Seq(
      CommitWriter.removeJson(Actions.RemoveFile(
        add0.getAs[String]("path"), Some(0L), dataChange = false)),
      CommitWriter.addJson(Actions.AddFile(
        add0.getAs[String]("path"), Map.empty, add0.getAs[Long]("size"),
        add0.getAs[Long]("modificationTime"), dataChange = false,
        stats = Option(add0.getAs[String]("stats")),
        deletionVector = Some(dv)))), "DELETE")
    val snap = DeltaTable.forPath(spark, path)
    assert(snap.read.count() == region.count() - 1)
    // the masked row is the first in sort order
    val minKey = region.agg(min("r_regionkey")).head().getInt(0)
    assert(!snap.read.collect().map(_.getInt(0)).contains(minKey))
  }
}
