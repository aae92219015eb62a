package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventsStream

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  test("windowed streaming agg equals batch aggregation") {
    val got = EventsStream.runToMemory(spark,
      ss => EventsStream.windowedCounts(EventsStream.readEvents(ss, sf)),
      "spec_window", OutputMode.Complete())
    val batch = graft.queries.T.events(spark, sf)
      .withColumn("minute_bucket", expr("ts div 60000000000"))
      .groupBy("minute_bucket", "event_type")
      .agg(count(lit(1)).as("n"))
    assert(got.count() == batch.count())
    assert(got.agg(sum("n")).head().getLong(0) ==
      batch.agg(sum("n")).head().getLong(0))
  }

  test("watermarked append-mode query runs with bounded state") {
    val got = EventsStream.runToMemory(spark,
      ss => EventsStream.watermarkedCounts(EventsStream.readEvents(ss, sf)),
      "spec_watermark", OutputMode.Append())
    // append mode withholds windows not yet past the watermark; with a
    // single batch the final watermark covers all but the tail windows
    assert(got.count() >= 0) // must run without error; shape checked below
    assert(got.schema.fieldNames.contains("window"))
  }

  test("streaming dedup absorbs triple delivery with bounded state") {
    // run by hand (not runToMemory) to read state-store metrics off the
    // StreamingQuery after the last batch
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val feed = EventsStream.dedupFeedDir(spark, sf)
    val q = EventsStream.readFeed(ss, sf, feed)
      .withWatermark("event_time", s"${EventsStream.WatermarkDelaySec} seconds")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("spec_stream_dedup").start()
    val stateRows = try {
      q.processAllAvailable()
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    } finally q.stop()
    val n = graft.queries.T.events(spark, sf).count()
    val emitted = ss.table("spec_stream_dedup")
    // exactly-once: 3 deliveries of every event -> one emission each
    assert(emitted.count() == n)
    assert(emitted.distinct().count() == n)
    // bounded state: the watermark must have evicted ids older than the
    // delay window — remembering every id ever seen is the unbounded
    // shape that dies at 100 TB
    assert(stateRows < n / 2,
      s"state holds $stateRows of $n ids — watermark eviction not working")
  }

  test("delta streaming source: incremental tail replay while running") {
    import graft.delta.log.CommitWriter
    val path = java.nio.file.Files.createTempDirectory("stream_src").toString
    val base = spark.read.parquet(s"$sf/nation.parquet")
    CommitWriter.createTable(spark, base.where(col("n_nationkey") < 10), path)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val q = ss.readStream.format("graftdelta").option("path", path).load()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("spec_delta_src").start()
    try {
      q.processAllAvailable()
      assert(ss.table("spec_delta_src").count() == 10)
      // appends committed while the stream runs arrive incrementally
      CommitWriter.append(spark, base.where(col("n_nationkey") >= 10), path)
      q.processAllAvailable()
      assert(ss.table("spec_delta_src").count() == base.count())
      // the second batch carried ONLY the appended files, not a re-read
      // of the snapshot (no duplicated rows)
      assert(ss.table("spec_delta_src").select("n_nationkey")
        .distinct().count() == base.count())
    } finally q.stop()
  }

  test("delta streaming source: readChangeFeed streams row-level changes") {
    import graft.delta.log.CommitWriter
    val path = java.nio.file.Files.createTempDirectory("stream_cdc").toString
    val base = spark.read.parquet(s"$sf/nation.parquet")
    CommitWriter.createTable(spark, base.where(col("n_nationkey") < 10), path)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val q = ss.readStream.format("graftdelta").option("path", path)
      .option("readChangeFeed", "true").load()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("spec_cdc_src").start()
    try {
      q.processAllAvailable()
      // initial snapshot arrives as inserts stamped with its version
      val t0 = ss.table("spec_cdc_src")
      assert(t0.count() == 10)
      assert(t0.where(col("_change_type") === "insert").count() == 10)
      // a DELETE mid-stream becomes delete rows — not a stream failure
      graft.commands.DmlCommands.delete(spark, path,
        col("n_nationkey") === 3)
      q.processAllAvailable()
      val dels = ss.table("spec_cdc_src")
        .where(col("_change_type") === "delete").collect()
      assert(dels.map(_.getAs[Number]("n_nationkey").longValue()).toSeq
        == Seq(3L))
      assert(dels.head.getAs[Long]("_commit_version") == 1L)
      // appends arrive as plain inserts
      CommitWriter.append(spark, base.where(col("n_nationkey") >= 10), path)
      q.processAllAvailable()
      assert(ss.table("spec_cdc_src")
        .where(col("_change_type") === "insert")
        .count() == base.count())
    } finally q.stop()
  }

  test("delta streaming source: checkpoint and OPTIMIZE mid-stream do not re-emit rows") {
    import graft.delta.log.CommitWriter
    val path = java.nio.file.Files.createTempDirectory("stream_cp").toString
    val base = spark.read.parquet(s"$sf/nation.parquet")
    CommitWriter.createTable(spark,
      base.where(col("n_nationkey") < 10).repartition(2), path)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val q = ss.readStream.format("graftdelta").option("path", path).load()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("spec_delta_cp").start()
    try {
      q.processAllAvailable()
      assert(ss.table("spec_delta_cp").count() == 10)
      // a CHECKPOINT re-stamps every file with the checkpoint version in
      // the reconciled list — the tail batch must NOT re-emit the table
      CommitWriter.checkpoint(spark, path)
      q.processAllAvailable()
      assert(ss.table("spec_delta_cp").count() == 10)
      // an OPTIMIZE rewrite adds files with dataChange=false — rows the
      // stream already delivered; they must not duplicate either
      graft.commands.OptimizeCommand.optimize(spark, path,
        targetFileSize = 1024L * 1024 * 1024)
      q.processAllAvailable()
      assert(ss.table("spec_delta_cp").count() == 10)
      // real appends still flow
      CommitWriter.append(spark, base.where(col("n_nationkey") >= 10), path)
      q.processAllAvailable()
      assert(ss.table("spec_delta_cp").count() == base.count())
      // the HARD case: append + OPTIMIZE land in ONE batch span (no
      // poll between). The appended file is no longer live at the span
      // end — a liveness-filtered read would LOSE its rows; reading the
      // commit's own add actions keeps them, exactly once.
      CommitWriter.append(spark,
        base.limit(3).withColumn("n_nationkey", col("n_nationkey") + 100),
        path)
      graft.commands.OptimizeCommand.optimize(spark, path,
        targetFileSize = 1024L * 1024 * 1024)
      q.processAllAvailable()
      assert(ss.table("spec_delta_cp").count() == base.count() + 3)
      assert(ss.table("spec_delta_cp")
        .where(col("n_nationkey") >= 100).count() == 3)
    } finally q.stop()
  }

  test("delta streaming source: startingVersion skips the initial snapshot") {
    import graft.delta.log.CommitWriter
    val path = java.nio.file.Files.createTempDirectory("stream_sv").toString
    val base = spark.read.parquet(s"$sf/nation.parquet")
    CommitWriter.createTable(spark, base.where(col("n_nationkey") < 10), path)
    CommitWriter.append(spark, base.where(col("n_nationkey") >= 10), path)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val q = ss.readStream.format("graftdelta").option("path", path)
      .option("startingVersion", "1").load()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("spec_delta_sv").start()
    try {
      q.processAllAvailable()
      val got = ss.table("spec_delta_sv")
      // only commit 1's rows (keys >= 10), not the v0 snapshot
      assert(got.count() == base.where(col("n_nationkey") >= 10).count())
      assert(got.agg(min("n_nationkey").cast("long")).head().getLong(0) == 10L)
    } finally q.stop()
  }

  test("delta streaming source: restart recovers position from the checkpoint") {
    import graft.delta.log.CommitWriter
    val path = java.nio.file.Files.createTempDirectory("stream_rst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_rst_ck").toString
    val base = spark.read.parquet(s"$sf/nation.parquet")
    CommitWriter.createTable(spark, base.where(col("n_nationkey") < 10), path)
    def run(): Long = {
      // foreachBatch sink (memory sink cannot recover from checkpoints);
      // counts only the rows THIS run's batches carried
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val seen = new java.util.concurrent.atomic.AtomicLong(0)
      val q = ss.readStream.format("graftdelta").option("path", path).load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(b.count()); ()
        }
        .start()
      try { q.processAllAvailable(); seen.get } finally q.stop()
    }
    assert(run() == 10) // initial snapshot
    CommitWriter.append(spark, base.where(col("n_nationkey") >= 10), path)
    // the restarted run recovers the offset (a SerializedOffset, the
    // json round-trip path) and emits ONLY the new commit's rows
    assert(run() == base.count() - 10)
    // DETERMINISTIC spanning batch: append + OPTIMIZE both commit while
    // the stream is DOWN, so the restarted run covers them in one span.
    // The appended file is no longer live at the span end (OPTIMIZE
    // compacted it away, dataChange=false) — its rows must still arrive,
    // exactly once, and the compacted re-adds must not duplicate.
    CommitWriter.append(spark,
      base.limit(4).withColumn("n_nationkey", col("n_nationkey") + 200),
      path)
    graft.commands.OptimizeCommand.optimize(spark, path,
      targetFileSize = 1024L * 1024 * 1024)
    assert(run() == 4)
  }

  test("delta streaming source: startingVersion=latest is pinned across restarts") {
    import graft.delta.log.CommitWriter
    val path = java.nio.file.Files.createTempDirectory("stream_lat").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_lat_ck").toString
    val base = spark.read.parquet(s"$sf/nation.parquet")
    CommitWriter.createTable(spark, base.where(col("n_nationkey") < 10), path)
    def run(): Long = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val seen = new java.util.concurrent.atomic.AtomicLong(0)
      val q = ss.readStream.format("graftdelta").option("path", path)
        .option("startingVersion", "latest").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(b.count()); ()
        }.start()
      try { q.processAllAvailable(); seen.get } finally q.stop()
    }
    assert(run() == 0) // 'latest' at start: nothing after v0 yet
    // commits land while the stream is DOWN; on restart 'latest' would
    // re-resolve PAST them — the pinned first resolution must win or
    // these rows are silently lost
    CommitWriter.append(spark, base.where(col("n_nationkey") >= 10), path)
    assert(run() == base.count() - 10)
  }

  test("delta streaming source: startingTimestamp resolves to the commit after it") {
    import graft.delta.log.CommitWriter
    val path = java.nio.file.Files.createTempDirectory("stream_ts").toString
    val base = spark.read.parquet(s"$sf/nation.parquet")
    CommitWriter.createTable(spark, base.where(col("n_nationkey") < 10), path)
    Thread.sleep(1100) // commit mtimes have 1s granularity on some FS
    val cut = System.currentTimeMillis()
    Thread.sleep(1100)
    CommitWriter.append(spark, base.where(col("n_nationkey") >= 10), path)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val q = ss.readStream.format("graftdelta").option("path", path)
      .option("startingTimestamp", cut.toString).load()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("spec_delta_ts").start()
    try {
      q.processAllAvailable()
      // only the post-cut commit's rows
      assert(ss.table("spec_delta_ts").count() ==
        base.where(col("n_nationkey") >= 10).count())
    } finally q.stop()
  }

  test("delta streaming source: data-changing removes fail unless ignoreChanges") {
    import graft.delta.log.CommitWriter
    val base = spark.read.parquet(s"$sf/nation.parquet")
    def run(ignoreChanges: Boolean): Either[Throwable, Long] = {
      // fresh table per run — the hostile commit from one run must not
      // leak into the other's initial snapshot
      val path = java.nio.file.Files.createTempDirectory("stream_chg").toString
      CommitWriter.createTable(spark, base, path)
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val name = s"spec_delta_chg_$ignoreChanges"
      val reader = ss.readStream.format("graftdelta").option("path", path)
      val q = (if (ignoreChanges) reader.option("ignoreChanges", "true")
               else reader).load()
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        val doomed = graft.delta.DeltaTable.forPath(spark, path).allFiles
          .select("path").orderBy("path").limit(1).collect()(0).getString(0)
        CommitWriter.commitRemoves(spark, path, Seq(doomed))
        q.processAllAvailable()
        Right(ss.table(name).count())
      } catch { case e: Throwable => Left(e) } finally q.stop()
    }
    run(ignoreChanges = false) match {
      case Left(e) =>
        val messages = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
        assert(messages.exists(_.contains("append-only")),
          s"unexpected failure: $messages")
      case Right(_) => fail("expected the stream to fail on a remove commit")
    }
    run(ignoreChanges = true) match {
      case Right(n) => assert(n == base.count()) // remove adds no new files
      case Left(e) => fail(s"ignoreChanges run failed: $e")
    }
  }

  test("table-to-table streaming: source -> DeltaSink is exactly-once") {
    import graft.delta.log.CommitWriter
    import graft.delta.DeltaTable
    import graft.streaming.DeltaSink
    val src = java.nio.file.Files.createTempDirectory("pipe_src").toString
    val dst = java.nio.file.Files.createTempDirectory("pipe_dst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pipe_ck").toString
    val base = spark.read.parquet(s"$sf/nation.parquet")
    CommitWriter.createTable(spark, base.where(col("n_nationkey") < 10), src)
    // dst is NOT pre-created: the sink bootstraps it from the stream

    def runPipe(): Unit = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val in = ss.readStream.format("graftdelta").option("path", src).load()
      DeltaSink.writeStream(in, dst, appId = "pipe-1", checkpointDir = ckpt)
        .awaitTermination()
    }

    runPipe()
    assert(DeltaTable.forPath(spark, dst).read.count() == 10)
    // replay with the same checkpoint: no new source data -> no-op
    runPipe()
    assert(DeltaTable.forPath(spark, dst).read.count() == 10)
    // new source commit flows through incrementally, still exactly-once
    CommitWriter.append(spark, base.where(col("n_nationkey") >= 10), src)
    runPipe()
    assert(DeltaTable.forPath(spark, dst).read.count() == base.count())
    runPipe()
    assert(DeltaTable.forPath(spark, dst).read.count() == base.count())
    // every landed batch carried its SetTransaction (exactly-once proof)
    assert(CommitWriter.latestTxnVersion(spark, dst, "pipe-1").isDefined)
  }

  test("mid-stream PQ drift heal: the trigger fires DURING ingest, the " +
    "escape hatch retrains between micro-batches, ingest continues " +
    "quiet against the new generation, post-stream recall holds") {
    import graft.queries.SimilarityQueries
    import graft.streaming.VecsStream
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_pq_heal").toFile.getAbsolutePath
    val vdim = 64
    // base: small-amplitude pseudo-random pattern; shifted: disjoint
    // hot-dim clusters far outside the trained region (the same
    // geometry IvfMaintenanceSpec's offline escape-hatch case pins)
    def baseVec(i: Int): Seq[Float] =
      Seq.tabulate(vdim)(d => (((i * 37 + d * 11) % 13) - 6).toFloat)
    // TIGHT shifted clusters (noise 0.4 vs the base pattern's ±6):
    // against the base-trained codebooks the 30-amplitude shift fires
    // hugely; once the retrain dedicates codewords to the 4 shifted
    // patterns, residual distortion is the small noise — deterministic
    // quiet for the post-heal batch
    def shiftVec(i: Int): Seq[Float] = {
      val c = i % 4
      Seq.tabulate(vdim)(d =>
        (if (d % 4 == c) 30f else 0f) +
          (((i * 7 + d * 3) % 5) - 2).toFloat * 0.2f)
    }
    val baseRows = (0 until 200).map(i => (i.toLong, i % 3, baseVec(i)))
    val b1Rows = (200 until 240).map(i => (i.toLong, i % 3, baseVec(i)))
    val b2Rows = (240 until 320).map(i => (i.toLong, i % 3, shiftVec(i)))
    val b3Rows = (320 until 400).map(i => (i.toLong, i % 3, shiftVec(i)))
    val baseDf = baseRows.toDF("vec_id", "label", "embedding")
    baseDf.write.parquet(s"$tmp/base")
    val path = s"$tmp/pq_heal_index"
    val ivfPath = s"$tmp/ivf"
    // single coarse cell — the coarse prune is not under test here
    // plain `(cid, cv)` sibling dir — the plain-parquet fallback
    // IndexStore.centroidsAt accepts beside Delta-backed tables
    Seq((0L, Seq.fill(vdim)(0.0))).toDF("cid", "cv")
      .coalesce(1).write.parquet(ivfPath + "_centroids")
    def cidsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), lit(0L).as("cid"))
    // initial build via the idempotent hatch: codebooks trained on the
    // BASE corpus, codes + persisted distortion baseline
    SimilarityQueries.pqRetrainAndReEncode(spark, baseDf, path,
      cidsOf(baseDf))
    val baseline0 = SimilarityQueries.distortionBaseline(spark, path)
    val vAfterBuild = graft.delta.DeltaTable.forPath(spark, path).version
    // the firehose: calm batch, SHIFTED batch (fires mid-stream),
    // another shifted batch (must encode against the NEW generation)
    val feedDir = s"$tmp/feed"
    val t0 = System.currentTimeMillis() - 60000
    def feed(rows: Seq[(Long, Int, Seq[Float])], name: String,
        at: Long): Unit =
      VecsStream.writeFeedFile(feedDir,
        rows.toDF("vec_id", "label", "embedding")
          .select("vec_id", "embedding", "label"), name, at)
    feed(b1Rows, "00_calm.parquet", t0)
    feed(b2Rows, "01_shift.parquet", t0 + 10000)
    feed(b3Rows, "02_more.parquet", t0 + 20000)
    val sink = s"$tmp/sink"
    // the heal's view of the CURRENT corpus: base + the vector ledger
    // the heal mode maintains beside the sink
    val heal = SimilarityQueries.PqHeal(
      corpus = bs => bs.read.parquet(s"$tmp/base")
        .unionByName(bs.read.parquet(sink + "_vecs")),
      cids = bs => cidsOf(bs.read.parquet(s"$tmp/base")
        .unionByName(bs.read.parquet(sink + "_vecs"))))
    SimilarityQueries.streamPqIngest(spark, feedDir, path, ivfPath,
      sink, "pq_heal_spec", monitor = true, heal = Some(heal),
      appendToIndex = true)
    // drift log: calm quiet -> shift fires AND heals -> the NEXT
    // shifted batch is already quiet against the retrained generation
    val log = spark.read.parquet(sink + "_drift")
      .orderBy("batch_id")
      .select("retrain", "healed").collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)))
    assert(log.toSeq == Seq((false, false), (true, true), (false, false)),
      s"drift/heal sequence diverged: ${log.toSeq}")
    // the heal is ONE atomic replace commit (no cross-directory crash
    // window exists to re-arm): 3 batch appends + 1 heal = 4 commits
    assert(graft.delta.DeltaTable.forPath(spark, path).version ==
      vAfterBuild + 4)
    // the baseline was refreshed by the mid-stream retrain
    assert(SimilarityQueries.distortionBaseline(spark, path) != baseline0)
    // the index holds the WHOLE corpus coherently: the heal re-encoded
    // base+b1+b2, the post-heal batch appended against the new
    // codebooks — nothing lost, nothing duplicated
    val index = graft.delta.IndexStore.data(spark, path)
    assert(index.count() == 400 &&
      index.select("vec_id").distinct().count() == 400)
    // post-stream search recall from inside the shifted region, through
    // the production search path over the healed index
    val allRows = baseRows ++ b1Rows ++ b2Rows ++ b3Rows
    val corpus = allRows.toDF("vec_id", "label", "embedding")
    val probeId = 320L
    val probe = allRows.find(_._1 == probeId).get._3.map(_.toDouble)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val k = 10
    val trueTop = allRows.filter(_._1 != probeId)
      .map { case (id, _, v) => (id, cos(v.map(_.toDouble), probe)) }
      .sortBy(t => (-t._2, t._1)).take(k).map(_._1).toSet
    val got = SimilarityQueries.annPqSearch(spark, corpus, path,
      ivfPath, probeId = probeId,
      k = k, nprobe = 1, cand = 64)
      .collect().map(_.getLong(0)).toSet
    val recall = (trueTop intersect got).size.toDouble / k
    assert(recall >= 0.8, s"post-heal recall@$k = $recall")
  }

  test("mid-stream heal on a RESIDUAL index: the hatch retrains in the " +
    "index's own space (residual corpus, original norms), construction " +
    "survives, post-stream decomposition recall holds") {
    import graft.queries.SimilarityQueries
    import graft.streaming.VecsStream
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_pq_heal_res").toFile.getAbsolutePath
    val vdim = 64
    def baseVec(i: Int): Seq[Float] =
      Seq.tabulate(vdim)(d => (((i * 37 + d * 11) % 13) - 6).toFloat)
    def shiftVec(i: Int): Seq[Float] = {
      val c = i % 4
      Seq.tabulate(vdim)(d =>
        (if (d % 4 == c) 30f else 0f) +
          (((i * 7 + d * 3) % 5) - 2).toFloat * 0.2f)
    }
    val baseRows = (0 until 200).map(i => (i.toLong, i % 3, baseVec(i)))
    val b1Rows = (200 until 240).map(i => (i.toLong, i % 3, baseVec(i)))
    val b2Rows = (240 until 320).map(i => (i.toLong, i % 3, shiftVec(i)))
    val b3Rows = (320 until 400).map(i => (i.toLong, i % 3, shiftVec(i)))
    val baseDf = baseRows.toDF("vec_id", "label", "embedding")
    baseDf.write.parquet(s"$tmp/base")
    val path = s"$tmp/pq_heal_res_index"
    val ivfPath = s"$tmp/ivf"
    // single coarse cell with a NONZERO centroid, so residual codes
    // genuinely differ from raw (x - 1 per dimension)
    Seq((0L, Seq.fill(vdim)(1.0))).toDF("cid", "cv")
      .coalesce(1).write.parquet(ivfPath + "_centroids")
    val cent = graft.delta.IndexStore.centroidsAt(spark, ivfPath)
    def cidsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), lit(0L).as("cid"))
    // initial build via the idempotent hatch, declared residual: train
    // on residuals, store the ORIGINAL vectors' norms
    SimilarityQueries.pqRetrainAndReEncode(spark,
      SimilarityQueries.residualsAgainst(baseDf, cidsOf(baseDf), cent,
        vdim),
      path, cidsOf(baseDf), packed = true,
      construction = SimilarityQueries.ConstructionResidual,
      normOf = Some(baseDf))
    assert(SimilarityQueries.constructionOf(spark, path) ==
      SimilarityQueries.ConstructionResidual)
    val baseline0 = SimilarityQueries.distortionBaseline(spark, path)
    val feedDir = s"$tmp/feed"
    val t0 = System.currentTimeMillis() - 60000
    def feed(rows: Seq[(Long, Int, Seq[Float])], name: String,
        at: Long): Unit =
      VecsStream.writeFeedFile(feedDir,
        rows.toDF("vec_id", "label", "embedding")
          .select("vec_id", "embedding", "label"), name, at)
    feed(b1Rows, "00_calm.parquet", t0)
    feed(b2Rows, "01_shift.parquet", t0 + 10000)
    feed(b3Rows, "02_more.parquet", t0 + 20000)
    val sink = s"$tmp/sink"
    val heal = SimilarityQueries.PqHeal(
      corpus = bs => bs.read.parquet(s"$tmp/base")
        .unionByName(bs.read.parquet(sink + "_vecs")),
      cids = bs => cidsOf(bs.read.parquet(s"$tmp/base")
        .unionByName(bs.read.parquet(sink + "_vecs"))))
    SimilarityQueries.streamPqIngest(spark, feedDir, path, ivfPath,
      sink, "pq_heal_res_spec", monitor = true, packed = true,
      heal = Some(heal), appendToIndex = true)
    // calm quiet -> shifted fires AND heals (in residual space) ->
    // the next shifted batch is quiet against the new generation
    val log = spark.read.parquet(sink + "_drift")
      .orderBy("batch_id")
      .select("retrain", "healed").collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)))
    assert(log.toSeq == Seq((false, false), (true, true), (false, false)),
      s"residual drift/heal sequence diverged: ${log.toSeq}")
    // the retrain preserved the construction tag and refreshed the
    // baseline; the index holds the whole corpus coherently
    assert(SimilarityQueries.constructionOf(spark, path) ==
      SimilarityQueries.ConstructionResidual)
    assert(SimilarityQueries.distortionBaseline(spark, path) != baseline0)
    val index = graft.delta.IndexStore.data(spark, path)
    assert(index.count() == 400 &&
      index.select("vec_id").distinct().count() == 400)
    // stored norms are the ORIGINAL vectors': spot-check one row
    val allRows = baseRows ++ b1Rows ++ b2Rows ++ b3Rows
    val v320 = allRows.find(_._1 == 320L).get._3.map(_.toDouble)
    val n320 = math.sqrt(v320.map(x => x * x).sum)
    val stored320 = index.where(col("vec_id") === 320L)
      .select("xnorm").head.getDouble(0)
    assert(math.abs(stored320 - n320) < 1e-9,
      s"stored norm $stored320 is not the original vector's $n320")
    // post-stream recall through the residual DECOMPOSITION search
    val corpus = allRows.toDF("vec_id", "label", "embedding")
    val probeId = 320L
    val probe = v320
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val k = 10
    val trueTop = allRows.filter(_._1 != probeId)
      .map { case (id, _, v) => (id, cos(v.map(_.toDouble), probe)) }
      .sortBy(t => (-t._2, t._1)).take(k).map(_._1).toSet
    val got = SimilarityQueries.annPqResidualSearch(spark, corpus, path,
      ivfPath, probeId = probeId, k = k, nprobe = 1, cand = 64)
      .collect().map(_.getLong(0)).toSet
    val recall = (trueTop intersect got).size.toDouble / k
    assert(recall >= 0.8, s"post-heal residual recall@$k = $recall")
  }

  test("mapGroupsWithState sessionization counts all events per user") {
    val sessions = EventsStream.runToMemory(spark,
      ss => EventsStream.userSessions(ss,
        EventsStream.readEvents(ss, sf)).toDF(), "spec_sessions",
      OutputMode.Update())
    val total = sessions.groupBy("user_id")
      .agg(max("n_events").as("n")).agg(sum("n")).head().getLong(0)
    assert(total == graft.queries.T.events(spark, sf).count())
  }
}
