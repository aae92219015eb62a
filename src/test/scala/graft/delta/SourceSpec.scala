package graft.delta

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.delta.log.CommitWriter
import org.apache.spark.sql.types.StructType

class SourceSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val table: String = {
    val d = Files.createTempDirectory("graft_src").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val region = spark.read.parquet(s"$sf/region.parquet")
    CommitWriter.createTable(spark, region.filter(col("r_regionkey") < 3), p)
    CommitWriter.append(spark, region.filter(col("r_regionkey") >= 3), p)
    p
  }

  test("maxFiles/maxBytesPerTrigger admit commits up to the cap") {
    val d = Files.createTempDirectory("graft_src_rate").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    // v0: 2 files; v1..v3: 1 file each
    CommitWriter.createTable(spark,
      nation.where(col("n_nationkey") < 10).repartition(2), p)
    for (r <- 1 to 3)
      CommitWriter.append(spark,
        nation.where(col("n_nationkey") === 10 + r).repartition(1), p)

    def offsets(options: Map[String, String]): Seq[Long] = {
      val src = new graft.delta.sources.GraftDeltaStreamSource(
        spark, p, options)
      Iterator.continually(src.getOffset)
        .takeWhile(_.isDefined)
        .map(o => o.get.json().trim.toLong).toSeq
    }
    // cap 1 file/trigger: v0 (2 files) flows alone (over-cap commits
    // never stall), then each append in its own batch
    assert(offsets(Map("maxfilespertrigger" -> "1")) == Seq(0L, 1L, 2L, 3L))
    // cap 2 files: v0 fills the first batch exactly; v1+v2 would be 2
    // files -> admitted together; v3 follows
    assert(offsets(Map("maxfilespertrigger" -> "2")) == Seq(0L, 2L, 3L))
    // byte cap below any file size: one commit per batch
    assert(offsets(Map("maxbytespertrigger" -> "1")) == Seq(0L, 1L, 2L, 3L))
    // a generous byte cap admits everything at once
    assert(offsets(Map("maxbytespertrigger" -> "1000000000")) == Seq(3L))
    // composes with the version cap (tighter one wins)
    assert(offsets(Map("maxbytespertrigger" -> "1000000000",
      "maxversionspertrigger" -> "2")) == Seq(1L, 3L))
  }

  test("Trigger.AvailableNow drains the table across rate-limited batches") {
    val d = Files.createTempDirectory("graft_src_avail").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    CommitWriter.createTable(spark,
      nation.where(col("n_nationkey") < 10).repartition(1), p)
    for (r <- 1 to 3)
      CommitWriter.append(spark,
        nation.where(col("n_nationkey") === 10 + r).repartition(1), p)

    // one commit per batch: a plain v1 source under AvailableNow would
    // stop after the FIRST rate-limited batch (Spark's wrapper snapshots
    // getOffset once); SupportsTriggerAvailableNow must drain all 4
    // versions in 4 batches and then terminate
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graftdelta")
      .option("maxFilesPerTrigger", "1")
      .load(p)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", new java.io.File(d, "ckpt").getAbsolutePath)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(b.count()); ()
      }
      .start()
    assert(q.awaitTermination(120000), "AvailableNow drain timed out")
    import scala.jdk.CollectionConverters._
    val counts = batches.asScala.toSeq
    assert(counts.sum == 13, s"expected all 13 rows, got $counts")
    assert(counts.count(_ > 0) == 4,
      s"expected 4 rate-limited batches, got $counts")

    // commits made AFTER the drain are picked up by the NEXT AvailableNow
    // run from the checkpoint (and only those)
    CommitWriter.append(spark,
      nation.where(col("n_nationkey") === 14).repartition(1), p)
    batches.clear()
    val q2 = spark.readStream.format("graftdelta")
      .option("maxFilesPerTrigger", "1")
      .load(p)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", new java.io.File(d, "ckpt").getAbsolutePath)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(b.count()); ()
      }
      .start()
    assert(q2.awaitTermination(120000), "resumed drain timed out")
    assert(batches.asScala.toSeq.filter(_ > 0) == Seq(1L),
      s"expected exactly the new row, got ${batches.asScala.toSeq}")
  }

  test("format('graftdelta') reads the table") {
    val df = spark.read.format("graftdelta").option("path", table).load()
    assert(df.count() == spark.read.parquet(s"$sf/region.parquet").count())
    assert(df.schema.fieldNames.toSeq == Seq("r_regionkey", "r_name"))
  }

  test("filters + projection flow through the source") {
    val df = spark.read.format("graftdelta").option("path", table).load()
      .where(col("r_regionkey") >= 3)
      .select("r_name")
    assert(df.collect().length == 2)
  }

  test("startingVersion batch read returns only the span's added rows") {
    // commit 1 appended r_regionkey >= 3 (2 rows)
    val inc = spark.read.format("graftdelta")
      .option("path", table).option("startingVersion", "1").load()
    assert(inc.select("r_regionkey").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq == Seq(3L, 4L))
    // full-history range = the whole table
    val all = spark.read.format("graftdelta")
      .option("path", table).option("startingVersion", "0").load()
    assert(all.count() == 5)
    // endingVersion bounds the span: [0, 0] is just the create
    val v0 = spark.read.format("graftdelta")
      .option("path", table).option("startingVersion", "0")
      .option("endingVersion", "0").load()
    assert(v0.count() == 3)
    // empty span beyond the tip
    val none = spark.read.format("graftdelta")
      .option("path", table).option("startingVersion", "2").load()
    assert(none.count() == 0)
    // incompatible with time travel
    intercept[IllegalArgumentException] {
      spark.read.format("graftdelta").option("path", table)
        .option("startingVersion", "1").option("versionAsOf", "0").load()
    }
  }

  test("startingVersion read skips OPTIMIZE rewrites, rejects DML spans") {
    val d = Files.createTempDirectory("graft_src_range").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val region = spark.read.parquet(s"$sf/region.parquet")
    CommitWriter.createTable(spark, region.filter(col("r_regionkey") < 3), p)
    CommitWriter.append(spark, region.filter(col("r_regionkey") >= 3), p)
    graft.commands.OptimizeCommand.optimize(spark, p) // v2: dataChange=false
    val afterOpt = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "2").load()
    assert(afterOpt.count() == 0) // rewrites are not new data
    graft.commands.DmlCommands.delete(spark, p, col("r_regionkey") === 0) // v3
    intercept[UnsupportedOperationException] {
      spark.read.format("graftdelta")
        .option("path", p).option("startingVersion", "3").load().count()
    }
    // ignoreChanges opts into the may-see-duplicates contract
    val ic = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "3")
      .option("ignoreChanges", "true").load()
    // OPTIMIZE compacted all 5 rows into one file; DELETE of key 0
    // rewrote it copy-on-write with the 4 survivors
    assert(ic.count() == 4)
  }

  test("readChangeFeed on a PARTITIONED table isolates the changed row") {
    val d = Files.createTempDirectory("graft_src_cdc_part").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    CommitWriter.createTable(spark, nation, p,
      partitionColumns = Seq("n_regionkey"))
    // delete ONE key inside one partition's file
    graft.commands.DmlCommands.delete(spark, p, col("n_nationkey") === 5) // v1
    val feed = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "1")
      .option("readChangeFeed", "true").load()
    // the diff must isolate exactly the deleted row — if the remove's
    // pre-image lost its partition values, every row of the rewritten
    // file would appear as insert+delete noise
    val rows = feed.select("n_nationkey", "n_regionkey", "_change_type")
      .collect().map(r => (r.getAs[Number](0).longValue(),
        r.getAs[Number](1).longValue(), r.getString(2))).toSet
    val region5 = nation.where(col("n_nationkey") === 5)
      .select("n_regionkey").head.getAs[Number](0).longValue()
    assert(rows == Set((5L, region5, "delete")))
  }

  test("batch range-read option typos fail instead of full-scanning") {
    intercept[IllegalArgumentException] {
      spark.read.format("graftdelta").option("path", table)
        .option("startingVersion", "1O").load() // letter O typo
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graftdelta").option("path", table)
        .option("endingVersion", "1").load() // no startingVersion
    }
  }

  test("readChangeFeed labels UPDATE rows as update_pre/postimage") {
    val d = Files.createTempDirectory("graft_src_cdc").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val region = spark.read.parquet(s"$sf/region.parquet")
    CommitWriter.createTable(spark, region, p)
    graft.commands.DmlCommands.update(spark, p, col("r_regionkey") === 2,
      Map("r_name" -> org.apache.spark.sql.functions.lit("RENAMED"))) // v1
    val feed = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "1")
      .option("readChangeFeed", "true").load()
      .select("r_regionkey", "r_name", "_change_type", "_commit_version")
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getString(1),
        r.getString(2), r.getAs[Number](3).longValue())).toSet
    val oldName = region.where(col("r_regionkey") === 2)
      .select("r_name").head.getString(0)
    assert(feed == Set(
      (2L, "RENAMED", "update_postimage", 1L),
      (2L, oldName, "update_preimage", 1L)))
  }

  test("readChangeFeed pairs MERGE updates via recorded merge keys") {
    val d = Files.createTempDirectory("graft_src_cdc_merge").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val region = spark.read.parquet(s"$sf/region.parquet")
    CommitWriter.createTable(spark, region, p)
    // v1 MERGE: key 2 updates, key 99 inserts — the derived feed must
    // split them per row using commitInfo.operationParameters.mergeKeys
    val src = region.where(col("r_regionkey") === 2)
      .withColumn("r_name", org.apache.spark.sql.functions.lit("MERGED"))
      .unionByName(region.limit(1)
        .withColumn("r_regionkey",
          org.apache.spark.sql.functions.lit(99L)
            .cast(region.schema("r_regionkey").dataType))
        .withColumn("r_name", org.apache.spark.sql.functions.lit("NEW")))
    graft.commands.MergeCommand.upsert(spark, p, src, Seq("r_regionkey"))
    val feed = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "1")
      .option("readChangeFeed", "true").load()
      .select("r_regionkey", "r_name", "_change_type")
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getString(1),
        r.getString(2))).toSet
    val oldName = region.where(col("r_regionkey") === 2)
      .select("r_name").head.getString(0)
    assert(feed == Set(
      (2L, oldName, "update_preimage"),
      (2L, "MERGED", "update_postimage"),
      (99L, "NEW", "insert")))

    // foreign-writer fallback: strip operationParameters from the
    // commit (rewrite the json) -> labels degrade to insert/delete
    val commit = new java.io.File(p,
      "_delta_log/00000000000000000001.json")
    val rewritten = scala.io.Source.fromFile(commit, "UTF-8").mkString
      .replaceAll(""",?"operationParameters":\{[^}]*\}""", "")
    java.nio.file.Files.write(commit.toPath, rewritten.getBytes("UTF-8"))
    val degraded = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "1")
      .option("readChangeFeed", "true").load()
      .select("_change_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(degraded == Set("insert", "delete"),
      s"foreign MERGE without mergeKeys must fall back, got $degraded")
  }

  test("readChangeFeed derives deletes from a merge-on-read DV DELETE") {
    val d = Files.createTempDirectory("graft_src_cdc_dv").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val region = spark.read.parquet(s"$sf/region.parquet")
    CommitWriter.createTable(spark, region, p,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    // v1: DV delete (no file rewritten — the diff must read the same
    // path twice, once without and once WITH the commit's new DV)
    graft.commands.DmlCommands.delete(spark, p, col("r_regionkey") === 2)
    val feed = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "1")
      .option("readChangeFeed", "true").load()
      .select("r_regionkey", "_change_type", "_commit_version")
      .collect().map(r => (r.getAs[Number](0).longValue(),
        r.getString(1), r.getAs[Number](2).longValue())).toSet
    assert(feed == Set((2L, "delete", 1L)))
  }

  test("reader options are case-insensitive on the batch DSv2 path") {
    // getTable receives the case-SENSITIVE properties map; a typo-cased
    // option must still resolve the range read, not silently degrade to
    // a full-table scan (inferSchema would have planned the range)
    val inc = spark.read.format("graftdelta")
      .option("path", table).option("STARTINGVERSION", "1").load()
    assert(inc.count() == 2)
    val cdc = spark.read.format("graftdelta")
      .option("path", table).option("READCHANGEFEED", "true")
      .option("startingversion", "0").load()
    assert(cdc.columns.contains("_change_type"))
    assert(cdc.count() == 5)
  }

  test("change feed rows carry _commit_timestamp from the commit timestamp rule") {
    val feed = spark.read.format("graftdelta")
      .option("path", table).option("startingVersion", "0")
      .option("readChangeFeed", "true").load()
    assert(feed.schema("_commit_timestamp").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val ts = feed.select("_commit_version", "_commit_timestamp").distinct()
      .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toMap
    assert(ts.keySet == Set(0L, 1L))
    assert(ts.values.forall(_ != null))
    // commit order implies timestamp order (same-millis ties allowed)
    assert(!ts(1L).before(ts(0L)))
    // and the value is the commit's timestamp by the protocol rule
    // (inCommitTimestamp, else the commit file's mtime), the same clock
    // TIMESTAMP AS OF resolves against
    val expected = graft.delta.scan.CommitRangeScan
      .commitTimestampMillis(spark, table, 1L)
    assert(ts(1L).getTime == expected)
  }

  test("readChangeFeed isolates a change inside a NULL partition") {
    val d = Files.createTempDirectory("graft_src_cdc_null").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val nation = spark.read.parquet(s"$sf/nation.parquet")
      .withColumn("n_regionkey",
        when(col("n_nationkey") < 10, lit(null)).otherwise(col("n_regionkey"))
          .cast("long"))
    CommitWriter.createTable(spark, nation, p,
      partitionColumns = Seq("n_regionkey"))
    // DML one key inside the __HIVE_DEFAULT_PARTITION__ file: if the
    // recovered pre-image kept the literal sentinel string, exceptAll
    // could not cancel the unchanged rows and the whole file would
    // surface as insert+delete noise
    graft.commands.DmlCommands.delete(spark, p, col("n_nationkey") === 5) // v1
    val rows = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "1")
      .option("readChangeFeed", "true").load()
      .select("n_nationkey", "n_regionkey", "_change_type")
      .collect().map(r => (r.getAs[Number](0).longValue(),
        Option(r.get(1)), r.getString(2))).toSet
    assert(rows == Set((5L, None, "delete")))
  }

  test("long change-feed spans read in bounded-plan chunks") {
    val d = Files.createTempDirectory("graft_src_cdc_long").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val region = spark.read.parquet(s"$sf/region.parquet")
    CommitWriter.createTable(spark, region, p) // v0: 5 rows
    val one = region.limit(1)
    for (_ <- 1 to 40) CommitWriter.append(spark, one, p) // v1..v40
    val feed = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "1")
      .option("readChangeFeed", "true").load()
    assert(feed.count() == 40)
    assert(feed.where(col("_change_type") === "insert").count() == 40)
    assert(feed.select("_commit_version").distinct().count() == 40)
    // the 40-commit span exceeds the 32-commit chunk bound, so the plan
    // must be a union of ≤ ceil(40/32) = 2 materialized chunks — not 40+
    // per-commit scans (a 1000-commit span would otherwise hand Catalyst
    // a 2000-scan tree)
    val leaves = feed.queryExecution.optimizedPlan.collectLeaves().length
    assert(leaves <= 4, s"expected chunk-bounded plan, got $leaves leaves")
  }

  test("versionAsOf option time-travels") {
    val df = spark.read.format("graftdelta")
      .option("path", table).option("versionAsOf", "0").load()
    assert(df.count() == 3)
  }

  test("startingTimestamp/endingTimestamp bound the batch range read") {
    val d = java.nio.file.Files
      .createTempDirectory("graft_src_ts_range").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val region = spark.read.parquet(s"$sf/region.parquet")
      .select("r_regionkey", "r_name")
    graft.delta.log.CommitWriter.createTable(spark,
      region.where(col("r_regionkey") < 2), p)            // v0: 2 rows
    Thread.sleep(60)
    graft.delta.log.CommitWriter.append(spark,
      region.where(col("r_regionkey") === 2), p)          // v1: 1 row
    Thread.sleep(60)
    graft.delta.log.CommitWriter.append(spark,
      region.where(col("r_regionkey") > 2), p)            // v2: 2 rows
    def mtime(v: Long) = new java.io.File(p,
      f"_delta_log/$v%020d.json").lastModified()
    // start just after v0 landed -> versions 1..2
    val fromTs = spark.read.format("graftdelta").option("path", p)
      .option("startingTimestamp", (mtime(0) + 1).toString).load()
    assert(fromTs.select("r_regionkey")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3, 4))
    // end at v1's stamp -> [1, 1] only
    val bounded = spark.read.format("graftdelta").option("path", p)
      .option("startingTimestamp", (mtime(0) + 1).toString)
      .option("endingTimestamp", mtime(1).toString).load()
    assert(bounded.select("r_regionkey")
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    // a pre-history startingTimestamp = full history
    val all = spark.read.format("graftdelta").option("path", p)
      .option("startingTimestamp", (mtime(0) - 10000).toString).load()
    assert(all.count() == 5)
    // both forms of the same bound together are ambiguous -> refuse
    intercept[IllegalArgumentException] {
      spark.read.format("graftdelta").option("path", p)
        .option("startingVersion", "1")
        .option("startingTimestamp", mtime(0).toString).load()
    }
    // an ending bound with no starting bound is a caller bug
    intercept[IllegalArgumentException] {
      spark.read.format("graftdelta").option("path", p)
        .option("endingTimestamp", mtime(1).toString).load()
    }
    // a start past the last commit is a caller bug too (a typo'd year
    // would otherwise read as "no new data" forever)
    intercept[IllegalArgumentException] {
      spark.read.format("graftdelta").option("path", p)
        .option("startingTimestamp",
          (System.currentTimeMillis() + 3600_000L).toString).load()
    }
  }

  test("timestampAsOf option time-travels via commit mtimes") {
    table // force fixture build
    val now = System.currentTimeMillis()
    val df = spark.read.format("graftdelta")
      .option("path", table).option("timestampAsOf", now.toString).load()
    assert(df.count() == 5) // at "now" the table is fully appended
    intercept[IllegalArgumentException] {
      spark.read.format("graftdelta").option("path", table)
        .option("versionAsOf", "0").option("timestampAsOf", now.toString)
        .load()
    }
  }

  test("SQL over the source via temp view") {
    spark.read.format("graftdelta").option("path", table).load()
      .createOrReplaceTempView("src_region")
    assert(spark.sql(
      "SELECT count(*) FROM src_region WHERE r_regionkey < 2")
      .head().getLong(0) == 2)
  }

  test("DV table reads through the format (composed V1Scan fallback)") {
    val p = graft.queries.DeltaQueries.dvTable(spark, sf)
    val viaFormat = spark.read.format("graftdelta").option("path", p).load()
    val direct = DeltaTable.forPath(spark, p).read
    assert(viaFormat.count() == direct.count())
    // pushed filters still surface on the v1-bridged scan node
    val filtered = viaFormat.where(col("c_custkey") <= 100)
    filtered.collect()
    assert(filtered.queryExecution.executedPlan.toString.contains("PushedFilters"))
  }

  test("composed scan reports stats: a small DV table auto-broadcasts") {
    // the composed (V1Scan) path now reports log-derived size/rows; a
    // dim-sized DV table must auto-broadcast in a join WITHOUT an
    // explicit broadcast() hint — unknown-size relations never would
    val p = graft.queries.DeltaQueries.dvTable(spark, sf)
    val dim = spark.read.format("graftdelta").option("path", p).load()
    val fact = spark.range(50000).toDF("c_custkey")
    val joined = fact.join(dim, Seq("c_custkey"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small composed-path table did not auto-broadcast:\n${plan.take(1500)}")
  }

  test("schema-evolved table reads through the native DSv2 path") {
    val p = graft.queries.DeltaQueries.evolvedTable(spark, sf)
    val df = spark.read.format("graftdelta").option("path", p).load()
    val direct = DeltaTable.forPath(spark, p).read
    assert(df.count() == direct.count())
    // old files lack o_orderstatus; the native parquet read imputes null
    assert(df.where(col("o_orderstatus").isNull).count() ==
      direct.where(col("o_orderstatus").isNull).count())
  }

  test("type-widened table reads through the native DSv2 path") {
    val p = graft.queries.DeltaQueries.widenedTable(spark, sf)
    val df = spark.read.format("graftdelta").option("path", p).load()
    val direct = DeltaTable.forPath(spark, p).read
    assert(df.schema == StructType(direct.schema.fields.toIndexedSeq))
    assert(df.agg(sum("o_orderkey")).head().getLong(0) ==
      direct.agg(sum("o_orderkey")).head().getLong(0))
  }
}
