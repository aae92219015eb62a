package graft.delta.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset => LegacyOffset, Source}
import org.apache.spark.sql.types.StructType
import graft.delta.DeltaTable
import graft.delta.log.LogSegment

/** Offset for the graftdelta streaming source: the table version whose
  * commits have all been emitted (inclusive). */
final case class GraftDeltaOffset(version: Long) extends LegacyOffset {
  override def json(): String = version.toString
}

/** Structured-Streaming SOURCE over a graft Delta table — the inverse of
  * [[graft.streaming.DeltaSink]]: `spark.readStream.format("graftdelta")`
  * tails the `_delta_log`, emitting the table snapshot as the first
  * micro-batch and exactly the files ADDED by each subsequent commit as
  * later batches (standard Delta streaming-source semantics). Built on
  * the v1 `Source` API — the same surface production Delta readers use —
  * because `getBatch` can then reuse the whole composed scan path
  * (partition values, deletion vectors, column mapping) instead of
  * reimplementing a parquet reader factory.
  *
  * Offsets are table versions; a restart resumes from the checkpointed
  * version and replays only the newer commit tail (O(new commits), same
  * contract as the incremental snapshot refresh). Appends are the only
  * in-stream change the source accepts: a commit that REMOVES data
  * (DELETE/UPDATE/OPTIMIZE rewrites) fails the stream unless
  * `ignoreChanges=true`, because its re-added files would duplicate rows
  * downstream — matching the reference-ecosystem semantics for Delta
  * streaming reads.
  *
  * Options: `maxVersionsPerTrigger` caps how many commit versions a
  * micro-batch may advance; `maxFilesPerTrigger` / `maxBytesPerTrigger`
  * cap by the admitted commits' add-file count / bytes (at least one
  * version always flows); `ignoreChanges` suppresses the non-append
  * failure.
  *
  * `Trigger.AvailableNow` composes with the rate limits: the source
  * implements [[SupportsTriggerAvailableNow]] directly, so instead of
  * Spark's `AvailableNowSourceWrapper` (which snapshots a plain v1
  * source's offset ONCE — one rate-limited batch, then stop) the engine
  * calls `prepareForTriggerAvailableNow` here, which pins the tip
  * version; `latestOffset` then advances toward that pinned tip in as
  * many rate-limited batches as the caps require and stops there, even
  * if newer commits land mid-drain.
  */
final class GraftDeltaStreamSource(
    spark: SparkSession,
    path: String,
    options: Map[String, String],
    metadataPath: String = "")
  extends Source with SupportsTriggerAvailableNow {

  private val opts = options.map { case (k, v) => k.toLowerCase -> v }
  private val ignoreChanges =
    opts.get("ignorechanges").exists(_.toBoolean) ||
      opts.get("ignoredeletes").exists(_.toBoolean)
  /** readChangeFeed=true: emit per-commit row-level changes
    * (_change_type insert|delete, _commit_version) instead of adds-only
    * batches; DML commits become delete+insert pairs rather than
    * failing the append-only contract. Initial batch = the snapshot as
    * inserts stamped with its version. */
  private val changeFeed = opts.get("readchangefeed").exists(_.toBoolean)
  private val maxVersionsPerTrigger =
    opts.get("maxversionspertrigger").map(_.toLong).map { n =>
      require(n > 0, s"maxVersionsPerTrigger must be positive, got $n")
      n
    }
  /** `maxFilesPerTrigger` / `maxBytesPerTrigger`: admission control by
    * the DATA a batch would read, not just commit count — the knobs
    * that matter when commit sizes are wildly uneven (one backfill
    * commit can carry 10k files). Versions are admitted until the cap
    * would be exceeded, always at least one per batch (a single
    * over-cap commit must flow, not stall the stream). */
  private val maxFilesPerTrigger =
    opts.get("maxfilespertrigger").map(_.toLong).map { n =>
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
      n
    }
  private val maxBytesPerTrigger =
    opts.get("maxbytespertrigger").map(_.toLong).map { n =>
      require(n > 0, s"maxBytesPerTrigger must be positive, got $n")
      n
    }

  /** `startingVersion=N` skips the initial snapshot and streams the adds
    * of commits >= N; `startingVersion=latest` streams only commits made
    * after the stream starts (resume-style ingestion). The streamed
    * range enforces the append-only contract: a DELETE/UPDATE commit
    * inside it fails the stream unless ignoreChanges (same rule as
    * steady-state batches);
    * `startingTimestamp=<ISO|epoch-ms>` resolves to the first commit
    * AFTER that time via commit mtimes (the inverse of timestamp
    * time travel). Resolved ONCE at source creation — restarts recover
    * position from offsets instead. */
  private val startingVersion: Option[Long] = {
    require(!(opts.contains("startingversion") &&
        opts.contains("startingtimestamp")),
      "set either startingVersion or startingTimestamp, not both")
    val resolved = opts.get("startingversion").map {
      case "latest" => DeltaTable.forPath(spark, path).version + 1
      case v => v.toLong
    }.orElse(opts.get("startingtimestamp").map { ts =>
      val millis = GraftDeltaSource.parseUtcMillis(ts)
      // first version whose commit landed AT or AFTER the timestamp:
      // version before it resolves via time travel; missing history
      // (all commits after ts) streams from version 0. ONLY the
      // empty-eligible-set error falls back — an IO failure must fail
      // the stream, not silently restart it from the full history
      try DeltaTable.forPathAtTimestamp(spark, path, millis - 1).version + 1
      catch { case _: IllegalArgumentException => 0L }
    })
    // `latest` and timestamps resolve DIFFERENTLY on every restart (the
    // v1 Source object is recreated against the current table tip), and
    // a higher re-resolved floor would silently swallow the commits made
    // while the stream was down. Pin the FIRST resolution in the
    // stream's own metadata dir; restarts read it back.
    resolved.map { sv0 =>
      if (metadataPath.isEmpty) sv0
      else {
        val pin = new Path(metadataPath, "graft_starting_version")
        val fs = LogSegment.fs(spark, pin)
        if (fs.exists(pin)) {
          val in = fs.open(pin)
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString.trim.toLong finally in.close()
        } else {
          fs.mkdirs(pin.getParent)
          val out = fs.create(pin, false)
          try out.write(sv0.toString.getBytes("UTF-8")) finally out.close()
          sv0
        }
      }
    }
  }

  /** Schema is pinned at stream start (a mid-stream schema change fails
    * the batch when column resolution does — the streaming contract). */
  override val schema: StructType =
    GraftDeltaStreamSource.sourceSchema(
      DeltaTable.forPath(spark, path).schema, changeFeed)

  /** Highest version already handed to the engine — the rate-limit base.
    * Restart-safe: getBatch bumps it to the recovered end offset before
    * the first getOffset of the resumed run. */
  @volatile private var base: Long = -1L

  private def ver(o: LegacyOffset): Long = o match {
    case GraftDeltaOffset(v) => v
    case other => other.json().trim.toLong
  }

  /** (add-file count, add bytes) of one commit — driver-side decode of
    * one small immutable file, memoized for the stream's life.
    * A commit swept by log retention reads as (0, 0): it can only sit
    * under the initial snapshot batch, which is one batch regardless. */
  private val commitLoadCache =
    scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
  private def commitLoad(v: Long): (Long, Long) =
    commitLoadCache.getOrElseUpdate(v, {
      val fs = LogSegment.fs(spark, new Path(path))
      val p = new Path(new Path(path, "_delta_log"),
        LogSegment.commitFileName(v))
      try {
        val adds = LogSegment.readLines(fs, p)
          .flatMap(l => Option(l.node.get("add")).filterNot(_.isNull))
        (adds.size.toLong,
          adds.map(a => Option(a.get("size")).map(_.asLong()).getOrElse(0L))
            .sum)
      } catch { case _: java.io.FileNotFoundException => (0L, 0L) }
    })

  /** Highest version the rate limits admit for one batch starting after
    * `from`, never past `tip`; always at least one version when any
    * exist (an over-cap commit flows alone rather than stalling). */
  private def admit(from: Long, tip: Long): Long =
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty)
      maxVersionsPerTrigger.fold(tip)(n => math.min(tip, from + n))
    else {
      var v = from
      var files = 0L
      var bytes = 0L
      var full = false
      while (!full && v < tip &&
          maxVersionsPerTrigger.forall(n => v - from < n)) {
        val (f, b) = commitLoad(v + 1)
        if (v > from && (maxFilesPerTrigger.exists(files + f > _) ||
            maxBytesPerTrigger.exists(bytes + b > _))) full = true
        else { v += 1; files += f; bytes += b }
      }
      v
    }

  /** Tip version pinned by `prepareForTriggerAvailableNow`: under
    * `Trigger.AvailableNow` every batch caps here, so commits landing
    * mid-drain stay for the next run (the trigger's contract). */
  @volatile private var availableNowTip: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowTip =
      Some(LogSegment.forTable(spark, new Path(path)).version)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission-control offset negotiation — the path the engine uses
    * whenever the source declares [[SupportsTriggerAvailableNow]]
    * (all triggers, not just AvailableNow). Stateless in `startOffset`,
    * unlike [[getOffset]]'s internal base: the engine hands back the
    * last end offset (or null on a fresh stream). Returning the start
    * offset unchanged signals no-new-data. */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val from = startOffset match {
      case null => -1L
      case o: LegacyOffset => ver(o)
      case o => o.json().trim.toLong
    }
    val tip = availableNowTip.getOrElse(
      LogSegment.forTable(spark, new Path(path)).version)
    val next = admit(from, tip)
    if (next <= from) startOffset else GraftDeltaOffset(next)
  }

  override def reportLatestOffset(): OffsetV2 =
    GraftDeltaOffset(availableNowTip.getOrElse(
      LogSegment.forTable(spark, new Path(path)).version))

  override def getOffset: Option[LegacyOffset] = {
    // polled every trigger: a log listing gives the tip version without
    // the metadata/protocol parse a full snapshot resolution would pay
    val latest = LogSegment.forTable(spark, new Path(path)).version
    val next = admit(base, latest)
    if (next <= base) None
    else {
      base = next
      Some(GraftDeltaOffset(next))
    }
  }

  override def getBatch(start: Option[LegacyOffset], end: LegacyOffset): DataFrame = {
    val endV = ver(end)
    base = math.max(base, endV)
    val snap = DeltaTable.forPath(spark, path, Some(endV))
    import org.apache.spark.sql.functions.{lit, timestamp_millis}
    def emptyBatch: DataFrame = {
      val e = graft.delta.scan.DeltaScan.buildForFiles(snap, Seq.empty)
      if (!changeFeed) e
      else e.withColumn("_change_type", lit(null: String).cast("string"))
        .withColumn("_commit_version", lit(null: String).cast("long"))
        .withColumn("_commit_timestamp",
          lit(null: String).cast("timestamp"))
    }
    val batch = start.map(ver) match {
      case None => startingVersion match {
        // initial load: the full snapshot at endV (in change-feed mode,
        // stamped as inserts at the snapshot version)...
        case None =>
          if (changeFeed) snap.read
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(endV))
            .withColumn("_commit_timestamp", timestamp_millis(lit(
              graft.delta.scan.CommitRangeScan.commitTimestampMillis(
                spark, path, endV))))
          else snap.read
        // ...or, with startingVersion, only the adds of commits >= it
        // (empty when the stream starts before reaching that version)
        case Some(sv0) if sv0 > endV => emptyBatch
        case Some(sv0) => tailBatch(snap, sv0 - 1, endV)
      }
      // startingVersion is a floor for EVERY batch, not just the first:
      // when the stream started before the table reached sv0, the
      // recorded offsets are below it and commits in (offset, sv0)
      // must stay excluded
      case Some(sv) =>
        val floor = startingVersion.fold(sv)(sv0 => math.max(sv, sv0 - 1))
        if (floor >= endV) emptyBatch
        else tailBatch(snap, floor, endV)
    }
    // project to the schema pinned at stream start: columns ADDED by a
    // mid-stream schema evolution are dropped (the sink's schema cannot
    // change); a removed/renamed column fails the batch with a clear
    // resolution error rather than a misaligned write
    val pinned = batch.select(schema.fieldNames.toIndexedSeq.map(batch.col): _*)
    // v1 contract: the returned plan must carry isStreaming=true
    org.apache.spark.sql.graftshim.Shims.asStreamingDF(pinned)
  }

  /** The (sv, endV] incremental batch — shared commit-range scan (see
    * [[graft.delta.scan.CommitRangeScan]] for the source-of-truth and
    * dataChange semantics, which the batch startingVersion read shares).
    * In change-feed mode the same span yields the row-level diff. */
  private def tailBatch(snap: graft.delta.Snapshot, sv: Long,
      endV: Long): DataFrame =
    if (changeFeed)
      graft.delta.scan.CommitRangeScan.changesBetween(spark, path, snap,
        sv, endV)
    else
      graft.delta.scan.CommitRangeScan.addsBetween(spark, path, snap, sv, endV,
        ignoreChanges, "Streaming source")

  override def commit(end: LegacyOffset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"GraftDeltaStreamSource[$path]"
}

object GraftDeltaStreamSource {
  /** Table schema, plus the change-feed columns when reading CDC.
    * `_change_type` is 'insert' | 'delete' |
    * 'update_preimage' | 'update_postimage' (update labels on UPDATE
    * commits; MERGE stays insert/delete — see
    * [[graft.delta.scan.CommitRangeScan.changesBetween]]). */
  def sourceSchema(table: StructType, changeFeed: Boolean): StructType =
    if (!changeFeed) table
    else StructType(table.fields.toIndexedSeq :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType) :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType) :+
      org.apache.spark.sql.types.StructField("_commit_timestamp",
        org.apache.spark.sql.types.TimestampType))
}
