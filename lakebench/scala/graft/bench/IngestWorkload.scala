package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.commands.{DmlCommands, MergeCommand, OptimizeCommand}
import graft.delta.DeltaTable
import graft.delta.log.{CommitWriter, LogSegment}

/** `ingest_mix`: three closed-loop clients on one `orders` table.
  *  - writer A: blind appends (`CommitWriter.append`);
  *  - writer B: `MergeCommand.upsert` by key and `DmlCommands.delete` on a
  *    key range in turn, with `OPTIMIZE` every Nth op;
  *  - a reader doing latest-version point reads.
  * Each client sends its next op as soon as the previous one returned.
  * Both writers retry a concurrent-modification exception up to a fixed
  * count, as an ETL job would; graft's MERGE and DELETE on this
  * unpartitioned table conflict with every concurrent append, so writer
  * B's ops retry often, and the retries are part of the op. Appended
  * keys, merged keys and deleted ranges are chosen so that every op's
  * effect is known from the generated inputs alone; the resulting ledger
  * checks every read and the final table. */
object IngestWorkload {
  val Columns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  val Key = "o_orderkey"

  private final case class Write(kind: String, client: Int, i: Int,
      tipBefore: Long, version: Long, payload: JsonNode)
  private final case class Read(opId: String, key: Long, version: Long,
      got: (Long, Long))

  /** Runs `f`, retrying a concurrent-modification exception; returns the
    * result and the number of attempts. */
  def withRetries[A](retries: Int)(f: => A): (A, Int) = {
    var attempt = 1
    while (true) {
      try return (f, attempt)
      catch {
        case _: CommitWriter.ConcurrentCommitException if attempt <= retries =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val p = ctx.params
    val inputs = ctx.plan.get("inputs")
    val ops = ctx.plan.get("ops")
    val retries = p.get("retries").asInt()
    val orders = spark.read.parquet(inputs.get("orders").asText())
    val schema = orders.schema

    val tables = ctx.setup(p.get("setup_repeats").asInt()) { r =>
      val path = s"${ctx.work}/tables/orders_$r"
      CommitWriter.createTable(spark,
        orders.repartitionByRange(p.get("initial_files").asInt(), col(Key)), path,
        configuration = Map(CommitWriter.CheckpointIntervalPropKey ->
          p.get("checkpoint_interval").asText()))
      path
    }
    require(tables.size >= 2, "ingest_mix warms up on the second set-up table")
    val path = tables.head

    // client inputs, materialized before the clock starts
    def batches(file: String): Map[Int, Array[Row]] =
      spark.read.parquet(file).collect().groupBy(_.getAs[Int]("batch"))
        .map { case (b, rows) =>
          b -> rows.map(r => Row.fromSeq(Columns.map(c => r.get(r.fieldIndex(c)))))
        }
    val appendRows = batches(inputs.get("appends").asText())
    val mergeRows = batches(inputs.get("merges").asText())
    def frame(rows: Array[Row]): DataFrame =
      spark.createDataFrame(rows.toSeq.asJava, schema)
    val appendDfs = appendRows.map { case (b, rows) => b -> frame(rows) }
    val mergeDfs = mergeRows.map { case (b, rows) => b -> frame(rows) }
    val optimizeTarget = p.get("optimize_target_bytes").asLong()

    def writerB(o: JsonNode, table: String): Unit = o.get("op").asText() match {
      case "merge" =>
        MergeCommand.upsert(spark, table, mergeDfs(o.get("src").asInt()), Seq(Key))
          .collect()
      case "delete" =>
        DmlCommands.delete(spark, table,
          col(Key).between(o.get("lo").asLong(), o.get("hi").asLong())).collect()
      case "optimize" =>
        OptimizeCommand.optimize(spark, table, targetFileSize = optimizeTarget)
          .collect()
    }

    // warm-up on the second set-up table: one op of every kind
    val warm = tables(1)
    val w = ops.get("warmup")
    ctx.phase("warmup") {
      CommitWriter.append(spark, appendDfs(w.get("append").asInt()), warm)
      ctx.arr(w.get("writer_b")).foreach(writerB(_, warm))
      ctx.arr(w.get("reads")).foreach(k =>
        ReadWorkload.plainRead(ctx, warm, None, col(Key) === k.asLong()))
    }

    val writes = new ConcurrentLinkedQueue[Write]()
    val reads = new ConcurrentLinkedQueue[Read]()
    val v0 = LogSegment.forTable(spark, new Path(path)).version
    def tip(): Long = LogSegment.forTable(spark, new Path(path)).version

    val clientA = () => {
      val seq = ctx.arr(ops.get("writer_a"))
      var i = 0
      while (i < seq.size && !ctx.deadlineReached) {
        val b = seq(i).asInt()
        ctx.op("append", 1, i) { (tr, _) =>
          val (v, attempts) = withRetries(retries) {
            Trace.span("commit.append")(CommitWriter.append(spark, appendDfs(b), path))
          }
          writes.add(Write("append", 1, i, -1L, v, seq(i)))
          Map("version" -> v, "attempts" -> attempts,
            "user_rows" -> appendRows(b).length)
        }
        i += 1
      }
    }
    val clientB = () => {
      val seq = ctx.arr(ops.get("writer_b"))
      val perKind = mutable.HashMap.empty[String, Int].withDefaultValue(0)
      var i = 0
      while (i < seq.size && !ctx.deadlineReached) {
        val o = seq(i)
        val kind = o.get("op").asText()
        val before = tip()
        // every other op of each kind is traced, so each kind has traced ops
        perKind(kind) += 1
        ctx.op(kind, 2, i, traceKey = perKind(kind) - 1) { (_, _) =>
          val (_, attempts) = withRetries(retries) {
            Trace.span(s"commit.$kind")(writerB(o, path))
          }
          writes.add(Write(kind, 2, i, before, -1L, o))
          Map("attempts" -> attempts,
            "user_rows" -> (if (kind == "merge") mergeRows(o.get("src").asInt()).length else 0))
        }
        i += 1
      }
    }
    val reader = () => {
      val seq = ctx.arr(ops.get("reader"))
      var i = 0
      while (!ctx.deadlineReached) {
        val key = seq(i % seq.size).asLong()
        val pred = col(Key) === key
        var post: () => Unit = () => ()
        ctx.op("read", 3, i) { (tr, opId) =>
          val (ver, rows) =
            if (tr) {
              val (ver, rows, after) = ReadWorkload.tracedRead(ctx, opId, path, None, pred)
              post = after
              (ver, rows)
            } else ReadWorkload.plainRead(ctx, path, None, pred)
          reads.add(Read(opId, key, ver, ctx.digest(rows, Columns)))
          Map("version" -> ver, "rows" -> rows.length)
        }
        post()
        i += 1
      }
    }

    ctx.startMeasure()
    val threads = Seq(clientA, clientB, reader).map { f =>
      val t = new Thread(() => f())
      t.start()
      t
    }
    threads.foreach(_.join())
    ctx.endMeasure()
    ctx.phase("checks")(verify(ctx, path, v0, writes, reads, orders, appendRows, mergeRows))
  }

  private def verify(ctx: Ctx, path: String, v0: Long,
      writes: ConcurrentLinkedQueue[Write], reads: ConcurrentLinkedQueue[Read],
      orders: DataFrame, appendRows: Map[Int, Array[Row]],
      mergeRows: Map[Int, Array[Row]]): Unit = {
    val spark = ctx.spark
    def tip(): Long = LogSegment.forTable(spark, new Path(path)).version

    // ---- attribution: which version did each acknowledged write commit
    val fs = LogSegment.fs(spark, new Path(path))
    val logPath = new Path(path, "_delta_log")
    val tipNow = tip()
    val operations: Map[Long, String] = (v0 + 1 to tipNow).map { v =>
      v -> commitLines(fs, logPath, v).headOption
        .map(l => Main.mapper.readTree(l).get("commitInfo").get("operation").asText())
        .getOrElse("")
    }.toMap
    val bWrites = writes.asScala.filter(_.client == 2).toSeq.sortBy(_.tipBefore)
    val bVersions = operations.filter(_._2 != "WRITE").keys.toSeq.sorted
      .map(v => v -> bWrites.filter(_.tipBefore < v).lastOption)
    val attributed: Seq[Write] =
      writes.asScala.filter(_.client == 1).toSeq ++
        bVersions.collect { case (v, Some(wr)) => wr.copy(version = v) }
    ctx.runCheck(bVersions.forall(_._2.isDefined) &&
      bVersions.flatMap(_._2).distinct.size == bVersions.size,
      s"writer B commits ${bVersions.map(_._1)} do not map one-to-one onto its ops")
    val checkpointed = fs.listStatus(logPath).flatMap(s =>
      LogSegment.checkpointArtifactVersion(s.getPath.getName)).toSet
    val perWrite = ctx.result.putArray("commits")
    attributed.sortBy(_.version).foreach { wr =>
      val lines = commitLines(fs, logPath, wr.version)
      perWrite.addObject().put("kind", wr.kind).put("client", wr.client)
        .put("i", wr.i).put("version", wr.version)
        .put("operation", operations.getOrElse(wr.version, ""))
        .put("files_added", lines.count(_.startsWith("{\"add\"")))
        .put("files_removed", lines.count(_.startsWith("{\"remove\"")))
        .put("checkpoint", checkpointed.contains(wr.version))
    }
    ctx.layer.put("checkpoint.count",
      checkpointed.count(v => v > v0 && v <= tipNow))

    // ---- ledger: apply the acknowledged writes in version order
    val state = mutable.HashMap.empty[Long, Row]
    orders.collect().foreach(r => state(r.getAs[Long](Key)) = project(r))
    val readsByVersion = reads.asScala.toSeq.sortBy(_.version)
    var ri = 0
    def checkReadsUpTo(v: Long): Unit =
      while (ri < readsByVersion.size && readsByVersion(ri).version <= v) {
        val r = readsByVersion(ri)
        val want = ctx.digest(state.get(r.key).toSeq, Columns)
        ctx.check(r.got == want, s"${r.opId} key ${r.key} at v${r.version}: " +
          s"got ${r.got._1} rows, ledger has ${want._1}")
        ri += 1
      }
    checkReadsUpTo(v0)
    attributed.sortBy(_.version).foreach { wr =>
      checkReadsUpTo(wr.version - 1)
      wr.kind match {
        case "append" => appendRows(wr.payload.asInt()).foreach(r => state(r.getLong(0)) = r)
        case "merge" => mergeRows(wr.payload.get("src").asInt()).foreach(r => state(r.getLong(0)) = r)
        case "delete" =>
          val (lo, hi) = (wr.payload.get("lo").asLong(), wr.payload.get("hi").asLong())
          state.keys.filter(k => k >= lo && k <= hi).toSeq.foreach(state.remove)
        case _ => ()
      }
    }
    checkReadsUpTo(Long.MaxValue)

    // ---- durability: a fresh session with the replay cache off re-reads
    // the table from its files alone
    val fresh = spark.newSession()
    fresh.conf.set("spark.lakehouse.delta.enable_caching", "false")
    val reread = DeltaTable.forPath(fresh, path).read.collect()
    val want = ctx.digest(state.values, Columns)
    val got = ctx.digest(reread.toSeq, Columns)
    ctx.runCheck(got == want, s"durability re-read: ${got._1} rows " +
      s"(hash ${got._2}) vs ledger ${want._1} (hash ${want._2})")

    // ---- space amplification
    val live = DeltaTable.forPath(spark, path).allFiles
      .agg(sum("size")).head().getLong(0)
    val onDisk = CommitWriter.listRecursive(fs, new Path(path)).map(_.getLen).sum
    ctx.result.put("space_amp", onDisk.toDouble / live)
    ctx.info.putObject("table").put("live_bytes", live).put("disk_bytes", onDisk)
      .put("rows", state.size).put("versions", tipNow + 1)
      .put("bytes_per_row", live.toDouble / state.size)
  }

  private def project(r: Row): Row = Row.fromSeq(Columns.map(c => r.get(r.fieldIndex(c))))

  private def commitLines(fs: org.apache.hadoop.fs.FileSystem, logPath: Path,
      v: Long): Seq[String] = {
    val in = fs.open(new Path(logPath, LogSegment.commitFileName(v)))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }
}
