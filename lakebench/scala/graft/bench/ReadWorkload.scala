package graft.bench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.delta.{DeltaTable, Snapshot}
import graft.delta.log.{CommitWriter, LogSegment, ProtocolSupport, Replay}
import graft.delta.scan.{DeltaScan, StatsSkipping}

/** `point_reads` and `large_log_reads`: one client reading a `lineitem`
  * table built from one commit per generated batch, each read
  * `DeltaTable.forPath(path[, versionAsOf]).readWhere(pred).collect()`. */
object ReadWorkload {
  val Columns = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")
  val PartitionColumn = "l_returnflag"

  def predicate(o: JsonNode): Column = {
    val lo = o.get("lo").asLong()
    val hi = o.get("hi").asLong()
    o.get("pred").asText() match {
      case "point" => col("l_orderkey") === lo
      case "range" => col("l_orderkey").between(lo, hi)
      case "part" =>
        col(PartitionColumn) === o.get("flag").asText() &&
          col("l_orderkey").between(lo, hi)
    }
  }

  /** `predicate(o)` evaluated on one row of the generator's output. */
  private def matches(o: JsonNode, r: Row): Boolean = {
    val k = r.getLong(0)
    val inRange = k >= o.get("lo").asLong() && k <= o.get("hi").asLong()
    o.get("pred").asText() match {
      case "part" => inRange && r.getString(8) == o.get("flag").asText()
      case _ => inRange
    }
  }

  private def version(o: JsonNode): Option[Long] =
    Some(o.get("v").asLong()).filter(_ >= 0)

  /** Builds the table: batch 0 creates it, batch k lands as version k.
    * The data files of batches 1.. are written by one `writeFiles` call
    * (each input file is its own task, so no output file mixes batches)
    * and then committed one batch per version through
    * `CommitWriter.commit`, which checkpoints every 10 versions. */
  def build(ctx: Ctx, path: String, batches: Seq[String], keysPerBatch: Long,
      maxRecordsPerFile: Int): Unit = {
    val spark = ctx.spark
    if (maxRecordsPerFile > 0)
      spark.conf.set("spark.sql.files.maxRecordsPerFile", maxRecordsPerFile.toLong)
    try {
      val meta = CommitWriter.createTable(spark, spark.read.parquet(batches.head),
        path, Seq(PartitionColumn))
      if (batches.size > 1) {
        val rest = batches.tail.map(spark.read.parquet(_)).reduce(_ union _)
        val adds = CommitWriter.writeFiles(spark, rest, path, meta.partitionColumns,
          configuration = meta.configuration,
          statsColumnOrder = CommitWriter.statsOrderOf(meta))
        val byBatch = adds.groupBy { a =>
          val min = Main.mapper.readTree(a.stats.get).get("minValues")
            .get("l_orderkey").asLong()
          (min - 1) / keysPerBatch
        }
        for (v <- 1 until batches.size)
          CommitWriter.commit(spark, path, v,
            byBatch.getOrElse(v.toLong, Nil).map(CommitWriter.addJson), "WRITE")
      }
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  /** The read as a user writes it. */
  def plainRead(ctx: Ctx, path: String, v: Option[Long], p: Column): (Long, Array[Row]) = {
    val snap = DeltaTable.forPath(ctx.spark, path, v)
    (snap.version, snap.readWhere(p).collect())
  }

  /** The same read, step by step through the public functions that
    * `forPath` and `readWhere` are made of, with a span around each
    * layer. Returns a closure that records the op's file counts; it runs
    * after the op so that its own jobs stay out of the op's time. */
  def tracedRead(ctx: Ctx, opId: String, path: String, v: Option[Long],
      p: Column): (Long, Array[Row], () => Unit) = {
    val spark = ctx.spark
    val tablePath = new Path(path)
    val seg = Trace.span("log_segment")(LogSegment.forTable(spark, tablePath, v))
    val (meta, proto) =
      Trace.span("replay.meta")(Replay.metadataAndProtocol(spark, seg))
    ProtocolSupport.assertReadable(path, proto)
    val snap = Snapshot(spark, tablePath, seg, meta, proto)
    val files = Trace.span("replay.files")(Replay.liveFiles(spark, seg))
    val kept = Trace.span("skipping") {
      StatsSkipping.prune(snap, files, Seq(p))
        .select("path", "partitionValues", "deletionVector", "size",
          "modificationTime").collect()
    }
    val scanFiles = kept.toSeq.map { r =>
      require(r.isNullAt(2), "benchmark tables carry no deletion vectors")
      DeltaScan.ScanFile(r.getString(0), r.getMap[String, String](1).toMap,
        None, r.getLong(3), r.getLong(4))
    }
    val df = Trace.span("scan_build")(DeltaScan.buildForFiles(snap, scanFiles).where(p))
    val rows = Trace.span("execute")(df.collect())
    SparkCollector.recordPhases(opId, df)
    val post = () => {
      def c(k: String, n: Long): Unit = Trace.countFor(opId, k, n)
      val logFiles = seg.checkpointFiles ++ seg.commitFiles
      c("log_segment.files", logFiles.size)
      c("replay.log_bytes", logFiles.map(_.getLen).sum)
      c("skipping.files_in", files.count())
      c("skipping.files_kept", scanFiles.size)
      c("skipping.files_useful", usefulFiles(snap, scanFiles, p))
    }
    (snap.version, rows, post)
  }

  /** Kept files that hold at least one row matching the predicate. */
  private def usefulFiles(snap: Snapshot, files: Seq[DeltaScan.ScanFile],
      p: Column): Long =
    if (files.isEmpty) 0L
    else DeltaScan.buildForFiles(snap, files).where(p)
      .select(input_file_name()).distinct().count()

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val plan = ctx.plan
    val batches = ctx.arr(plan.get("inputs").get("batches")).map(_.asText())
    val keysPerBatch = ctx.params.get("keys_per_batch").asLong()
    val maxRecords = ctx.params.get("max_records_per_file").asInt()
    val tables = ctx.setup(ctx.params.get("setup_repeats").asInt()) { r =>
      val path = s"${ctx.work}/tables/lineitem_$r"
      build(ctx, path, batches, keysPerBatch, maxRecords)
      path
    }
    val path = tables.head
    describeTable(ctx, path)

    ctx.phase("warmup")(ctx.arr(plan.get("ops").get("warmup")).foreach(o =>
      plainRead(ctx, path, version(o), predicate(o))))

    val reads = ctx.arr(plan.get("ops").get("reads"))
    val done = ArrayBuffer.empty[(JsonNode, Long, (Long, Long), String)]
    ctx.startMeasure()
    var i = 0
    while (!ctx.deadlineReached) {
      val o = reads(i % reads.size)
      val v = version(o)
      var post: () => Unit = () => ()
      ctx.op(if (v.isEmpty) "read" else "tt_read", 0, i) { (tr, opId) =>
        val (ver, rows) =
          if (tr) {
            val (ver, rows, after) = tracedRead(ctx, opId, path, v, predicate(o))
            post = after
            (ver, rows)
          } else plainRead(ctx, path, v, predicate(o))
        done += ((o, ver, ctx.digest(rows, Columns), opId))
        Map("version" -> ver, "rows" -> rows.length)
      }
      post()
      i += 1
    }
    ctx.endMeasure()

    // every read against its predicate evaluated over the generator's
    // batches 0..version, read with plain spark.read.parquet
    ctx.phase("checks") {
      val version = batches.zipWithIndex.map { case (b, v) =>
        new Path(b).getName -> v.toLong }.toMap
      val expected = spark.read.parquet(batches: _*)
        .select((Columns.map(col) :+ col("_metadata.file_name")): _*).collect()
        .map(r => (version(r.getString(Columns.size)), Row.fromSeq(r.toSeq.take(Columns.size))))
      for ((o, ver, got, opId) <- done) {
        val rows = expected.collect { case (v, r) if v <= ver && matches(o, r) => r }
        val want = ctx.digest(rows, Columns)
        ctx.check(got == want, s"$opId at v$ver: got ${got._1} rows " +
          s"(hash ${got._2}), expected ${want._1} (hash ${want._2})")
      }
    }
  }

  /** Table shape, printed with the metrics. */
  def describeTable(ctx: Ctx, path: String): Unit = {
    val seg = LogSegment.forTable(ctx.spark, new Path(path))
    val fs = LogSegment.fs(ctx.spark, new Path(path))
    val logDir = fs.listStatus(seg.logPath)
    val t = ctx.info.putObject("table")
    t.put("versions", seg.version + 1)
    t.put("checkpoints", logDir.count(s =>
      LogSegment.checkpointArtifactVersion(s.getPath.getName).isDefined))
    t.put("live_files", DeltaTable.forPath(ctx.spark, path).allFiles.count())
    t.put("log_bytes_latest",
      (seg.checkpointFiles ++ seg.commitFiles).map(_.getLen).sum)
    t.put("log_bytes_total", logDir.map(_.getLen).sum)
  }
}
