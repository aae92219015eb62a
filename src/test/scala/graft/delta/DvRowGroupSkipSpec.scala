package graft.delta

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.commands.DmlCommands
import graft.delta.log.CommitWriter
import graft.delta.scan.DvRowGroupSkip

/** Surgical DV row-group skipping: a file whose deletion vector kills
  * whole parquet row groups must not decode them — the read plan's
  * byte-ranged splits drop dead groups at the decoder (the reference's
  * ParquetAccessPlan Skip semantics), while partially-deleted groups
  * still go through the normal row mask. */
class DvRowGroupSkipSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_dvrg_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private lazy val orders = spark.read.parquet(s"$sf/orders.parquet")

  /** Build a DV table whose single data file has MANY row groups (tiny
    * parquet block size), sorted by key so a range DELETE kills whole
    * leading groups. Returns (path, rows, cutoff). */
  private def multiGroupTable(name: String): (String, Long, Double) = {
    val p = tmp(name)
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    // row-group flush checks fire every 100 records; with a 16 KiB
    // target a 7500-row sorted write yields dozens of groups
    hc.set("parquet.block.size", (16 * 1024).toString)
    try {
      CommitWriter.createTable(spark,
        orders.orderBy("o_orderkey").coalesce(1), p,
        configuration = Map("delta.enableDeletionVectors" -> "true"))
    } finally {
      if (prevBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prevBlock)
    }
    val n = orders.count()
    val cut = orders.stat.approxQuantile("o_orderkey", Array(0.9), 0.0)(0)
    (p, n, cut)
  }

  test("90%-deleted file decodes only the surviving row groups") {
    val (p, n, cut) = multiGroupTable("skip")
    // DV DELETE of the leading ~90% of the sorted key range
    DmlCommands.delete(spark, p, col("o_orderkey") < cut)
    val kept = orders.filter(col("o_orderkey") >= cut)

    val prior = spark.conf.getOption("spark.lakehouse.dv.rowGroupSkip.minDeleted")
    spark.conf.set("spark.lakehouse.dv.rowGroupSkip.minDeleted", "1")
    try {
      DvRowGroupSkip.lastSkipped.set(-1)
      DvRowGroupSkip.lastDecoded.set(-1)
      val t = DeltaTable.forPath(spark, p).read
      assert(t.count() == kept.count())
      val skipped = DvRowGroupSkip.lastSkipped.get()
      val decoded = DvRowGroupSkip.lastDecoded.get()
      assert(skipped > 0, "no row groups were skipped")
      assert(decoded > 0, "surgical scan decoded nothing")
      assert(skipped > decoded * 2,
        s"a 90% delete should skip most groups: skipped=$skipped decoded=$decoded")
      // content identical to the skip-disabled scan (same mask, same rows)
      spark.conf.set("spark.lakehouse.dv.rowGroupSkip.enabled", "false")
      val full = DeltaTable.forPath(spark, p).read
      assert(t.orderBy("o_orderkey").collect().toSeq ==
        full.orderBy("o_orderkey").collect().toSeq)
    } finally {
      spark.conf.set("spark.lakehouse.dv.rowGroupSkip.enabled", "true")
      prior match {
        case Some(v) =>
          spark.conf.set("spark.lakehouse.dv.rowGroupSkip.minDeleted", v)
        case None =>
          spark.conf.unset("spark.lakehouse.dv.rowGroupSkip.minDeleted")
      }
    }
  }

  test("partially-deleted groups still mask; mixed tables stay exact") {
    val (p, n, _) = multiGroupTable("mixed")
    // kill two disjoint key bands: leading groups die entirely, the
    // bands' edges leave partially-deleted groups for the row mask
    val q = orders.stat.approxQuantile("o_orderkey",
      Array(0.3, 0.5, 0.7), 0.0)
    DmlCommands.delete(spark,
      p, col("o_orderkey") < q(0) ||
        (col("o_orderkey") >= q(1) && col("o_orderkey") < q(2)))
    val expect = orders.filter(!(col("o_orderkey") < q(0) ||
      (col("o_orderkey") >= q(1) && col("o_orderkey") < q(2))))

    spark.conf.set("spark.lakehouse.dv.rowGroupSkip.minDeleted", "1")
    try {
      val t = DeltaTable.forPath(spark, p).read
      assert(t.count() == expect.count())
      assert(t.agg(sum("o_totalprice")).head.getDouble(0) ==
        expect.agg(sum("o_totalprice")).head.getDouble(0))
    } finally {
      spark.conf.unset("spark.lakehouse.dv.rowGroupSkip.minDeleted")
    }
  }

  test("surgical skip on a COLUMN-MAPPED table reads physical names right") {
    val p = tmp("mapped")
    val df = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.block.size")
    hc.set("parquet.block.size", (16 * 1024).toString)
    try CommitWriter.createTableMapped(spark, df.coalesce(1), p)
    finally {
      if (prev == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prev)
    }
    graft.GraftSession(spark).sql(s"ALTER TABLE '$p' SET TBLPROPERTIES " +
      "('delta.enableDeletionVectors' = 'true')")
    val cut = orders.stat.approxQuantile("o_orderkey", Array(0.9), 0.0)(0)
    DmlCommands.delete(spark, p, col("o_orderkey") < cut)

    spark.conf.set("spark.lakehouse.dv.rowGroupSkip.minDeleted", "1")
    try {
      DvRowGroupSkip.lastSkipped.set(-1)
      val t = DeltaTable.forPath(spark, p).read
      val expect = df.filter(col("o_orderkey") >= cut)
      assert(t.count() == expect.count())
      assert(DvRowGroupSkip.lastSkipped.get() > 0,
        "mapped table never engaged the surgical path")
      assert(t.orderBy("o_orderkey").collect().toSeq ==
        expect.orderBy("o_orderkey").collect().toSeq)
    } finally {
      spark.conf.unset("spark.lakehouse.dv.rowGroupSkip.minDeleted")
    }
  }

  test("surgical skip on a PARTITIONED table keeps each file's " +
      "partition value") {
    val p = tmp("parted")
    // one key-sorted, many-group file per partition: the sort on
    // (bucket, key) already satisfies the partitioned writer's ordering
    val df = orders.withColumn("bucket",
        (col("o_orderkey") % 2).cast("int"))
      .repartition(1).sortWithinPartitions("bucket", "o_orderkey")
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.block.size")
    hc.set("parquet.block.size", (16 * 1024).toString)
    try CommitWriter.createTable(spark, df, p,
      partitionColumns = Seq("bucket"),
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    finally {
      if (prev == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prev)
    }
    val cut = orders.stat.approxQuantile("o_orderkey", Array(0.9), 0.0)(0)
    DmlCommands.delete(spark, p, col("o_orderkey") < cut)

    spark.conf.set("spark.lakehouse.dv.rowGroupSkip.minDeleted", "1")
    try {
      DvRowGroupSkip.lastSkipped.set(-1)
      val t = DeltaTable.forPath(spark, p).read
      val rows = t.select("o_orderkey", "bucket").collect()
      assert(DvRowGroupSkip.lastSkipped.get() > 0,
        "partitioned table never engaged the surgical path")
      assert(rows.length == df.filter(col("o_orderkey") >= cut).count())
      // every row carries its own file's partition value, typed
      val wrong = rows.filterNot(r =>
        r.get(1) == (r.get(0).asInstanceOf[Number].longValue % 2).toInt)
      assert(wrong.isEmpty, s"rows with a foreign partition value: " +
        wrong.take(5).mkString(", "))
    } finally {
      spark.conf.unset("spark.lakehouse.dv.rowGroupSkip.minDeleted")
    }
  }

  test("second DV DELETE merges correctly through the surgical scan") {
    // DML's provenance scan (buildWithRowIndex) also routes heavy-DV
    // files through the surgical path; the __row_index it carries must
    // be the GLOBAL parquet row index or the merged DV would mask the
    // wrong rows
    val (p, n, cut) = multiGroupTable("merge2")
    DmlCommands.delete(spark, p, col("o_orderkey") < cut)
    spark.conf.set("spark.lakehouse.dv.rowGroupSkip.minDeleted", "1")
    try {
      // this delete's matching rows are found via a surgical scan of
      // the 90%-masked file
      val hi = orders.agg(max("o_orderkey")).head.get(0)
        .asInstanceOf[Number].longValue
      DmlCommands.delete(spark, p,
        col("o_orderkey") >= cut && col("o_orderkey") =!= hi)
      val t = DeltaTable.forPath(spark, p).read
      val expect = orders.filter(col("o_orderkey") === hi)
      assert(t.count() == expect.count())
      assert(t.select("o_orderkey").collect().map(
        _.get(0).asInstanceOf[Number].longValue).toSet == Set(hi))
    } finally {
      spark.conf.unset("spark.lakehouse.dv.rowGroupSkip.minDeleted")
    }
  }

  test("files below the cardinality threshold never pay the footer read") {
    val (p, _, _) = multiGroupTable("thresh")
    DmlCommands.delete(spark, p, col("o_orderkey") % 97 === 0)
    // default threshold (65536) far exceeds this DV's cardinality
    DvRowGroupSkip.lastSkipped.set(-1)
    val t = DeltaTable.forPath(spark, p).read
    assert(t.count() ==
      orders.filter(!(col("o_orderkey") % 97 === 0)).count())
    assert(DvRowGroupSkip.lastSkipped.get() == -1,
      "surgical planner ran below the threshold")
  }
}
