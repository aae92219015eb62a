package graft.delta

import java.nio.file.Files
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.delta.log.{Actions, CommitWriter, LogSegment}
import graft.delta.sources.GraftDeltaFileIndex

/** Dynamic partition pruning on every read route. Spark's own
  * ParquetScan implements no runtime filtering, so the native DSv2 scan
  * wraps it ([[graft.delta.sources.RuntimeFilteredParquetScan]]) and
  * re-lists only the surviving partitions' files at execution; the
  * composed scan behind `Snapshot.read`/`readWhere` is a file-source
  * scan whose index carries the partition schema, which Spark prunes
  * itself. A star-schema join against a selectively-filtered dim must
  * plant a DynamicPruning subquery on each. */
class RuntimeFilteringSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_dpp_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  /** Copy the table's first live file to `rel` and commit it as a new
    * add with `partitionValues`: a layout the protocol allows but no
    * directory listing reproduces. */
  private def addCopy(p: String, rel: String,
      partitionValues: Map[String, String]): Unit = {
    val fs = LogSegment.fs(spark, new Path(p))
    val src = DeltaTable.forPath(spark, p).allFiles
      .select("path").head.getString(0)
    FileUtil.copy(fs, new Path(p, src), fs, new Path(p, rel), false,
      spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(new Path(p, rel))
    CommitWriter.commit(spark, p, 1L, Seq(CommitWriter.addJson(
      Actions.AddFile(rel, partitionValues, st.getLen,
        st.getModificationTime, dataChange = true, stats = None))), "WRITE")
  }

  /** Every `FileSourceScanExec` in an executed plan; AQE keeps its
    * final plan and stages outside `children`, so unwrap them. */
  private def v1Scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => v1Scans(a.executedPlan)
    case q: QueryStageExec => v1Scans(q.plan)
  }.flatten

  test("broadcast join against a filtered dim prunes fact partitions") {
    import spark.implicits._
    val p = tmp("fact")
    // fact: 20 partitions, one file each
    CommitWriter.createTable(spark,
      spark.range(20000).select(col("id"),
        (col("id") % 20).cast("int").as("part")).repartition(col("part")),
      p, partitionColumns = Seq("part"))
    val snap = DeltaTable.forPath(spark, p)
    val factFiles = snap.allFiles.count()
    assert(factFiles >= 20L)

    // dim must be parquet-backed: a Filter over a LocalRelation
    // constant-folds away before PartitionPruning looks for the
    // selective predicate
    val dimPath = tmp("dim")
    Seq((3, "keep"), (7, "drop")).toDF("part_key", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("tag") === "keep")

    // the native DSv2 scan, and the composed scan behind both snapshot
    // reads: every route hands DPP a real partition column
    for ((route, fact) <- Seq(
        "format(graftdelta)" ->
          spark.read.format("graftdelta").option("path", p).load(),
        "snap.read" -> snap.read,
        "snap.readWhere()" -> snap.readWhere())) {
      val joined = fact.join(broadcast(dim), fact("part") === dim("part_key"))
      val counted = joined.groupBy().count()
      GraftDeltaFileIndex.clearListLog()
      // collect, not head: head plans (and runs) a separate limit query,
      // leaving this plan's scan metrics unset
      assert(counted.collect().head.getLong(0) == 1000L, route)
      // the DPP subquery landed in the plan...
      val plan = counted.queryExecution.executedPlan
      assert(plan.toString.contains("dynamicpruningexpression"),
        s"$route: no DynamicPruning in executed plan:\n" +
          plan.toString.take(2000))
      // ...and pruned the file set to one partition's worth
      v1Scans(plan).filter(
          _.relation.location.isInstanceOf[GraftDeltaFileIndex]) match {
        case Seq() =>
          // DSv2: planning-time lists return all files; the runtime
          // re-list (extra partition filter) is the call with
          // files << total
          val calls = GraftDeltaFileIndex.recentLists
          assert(calls.exists(c => c._3 >= 1L && c._3 < factFiles / 2),
            s"$route: no pruned runtime re-list among $calls; filter() " +
              "got: " + graft.delta.sources.RuntimeFilteredParquetScan
                .lastFilterCall.get())
        case scans =>
          // V1: the scan filters its listed partitions in memory, so
          // the evidence is the files it read against the table's
          val scan = scans.find(_.partitionFilters.exists(
              _.isInstanceOf[DynamicPruningExpression]))
            .getOrElse(fail(s"$route: no DPP-filtered file scan in $scans"))
          val read = scan.metrics("numFiles").value
          assert(read >= 1L && read < factFiles / 2,
            s"$route: read $read of $factFiles files")
      }
      // correctness against a plain range
      assert(joined.select(sum("id")).head().getLong(0) ==
        spark.range(20000).where(col("id") % 20 === 3)
          .select(sum("id")).head().getLong(0), route)
    }
  }

  test("each file keeps its own log partition values, even when two " +
      "files share a directory") {
    val p = tmp("shared_dir")
    CommitWriter.createTable(spark,
      spark.range(5).select(col("id"), lit(1).as("part")).repartition(1),
      p, partitionColumns = Seq("part"))
    // the protocol ties partition values to the add action, not to the
    // directory: a copy of the part=1 file lands in the SAME directory
    // with partitionValues part=2
    addCopy(p, "part=1/copy-as-part-2.parquet", Map("part" -> "2"))

    val snap = DeltaTable.forPath(spark, p)
    def perPart(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      df.groupBy("part").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // both snapshot reads (the composed scan) keep each file's values
    assert(perPart(snap.read) == Map(1 -> 5L, 2 -> 5L))
    assert(perPart(snap.readWhere()) == Map(1 -> 5L, 2 -> 5L))
    // partition pruning on the native DSv2 route evaluates each file's
    // values too
    val ds = spark.read.format("graftdelta").option("path", p).load()
    assert(ds.where(col("part") === 2).count() == 5L)
    assert(ds.where(col("part") === 1).count() == 5L)
  }

  test("unpartitioned tables keep the bare ParquetScan (no wrapper)") {
    val p = tmp("flat")
    CommitWriter.createTable(spark,
      spark.range(100).select(col("id")), p)
    val df = spark.read.format("graftdelta").option("path", p).load()
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan.getClass.getSimpleName
    }
    assert(scans == Seq("ParquetScan"), s"got $scans")
    assert(df.count() == 100L)
  }

  test("an unpartitioned table reads a file outside its root directory " +
      "on the DSv2 route") {
    val p = tmp("outside_root")
    CommitWriter.createTable(spark, spark.range(3).repartition(1).toDF(), p)
    // the protocol allows an add anywhere under the table (and absolute
    // paths, as a shallow clone writes); the index lists the log, not
    // the root directory
    addCopy(p, "sub/copy.parquet", Map.empty)
    val ds = spark.read.format("graftdelta").option("path", p).load()
    assert(ds.count() == 6L)
    assert(DeltaTable.forPath(spark, p).readWhere().count() == 6L)
  }
}
