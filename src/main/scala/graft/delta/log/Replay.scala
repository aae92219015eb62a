package graft.delta.log

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

/** Log replay: reconcile checkpoint + commit actions into the live file
  * set and the latest metadata/protocol.
  *
  * The reference delegates this to delta-kernel's scan-metadata log
  * replay (reference: crates/datafusion/src/table_provider/delta/
  * snapshot.rs:92-136). Here the replay itself is a Spark plan: the
  * checkpoint (potentially millions of add rows at 100 TB) is read
  * distributed, commit JSON tails are small, and reconciliation is a
  * window over the union — no driver-side materialization until after
  * pruning.
  */
object Replay {
  /** The resolved sidecar parquet paths of a v2-checkpointed segment
    * (empty for classic checkpoints) — the authoritative count/layout
    * for callers auditing the checkpoint artifact. */
  def sidecarPaths(spark: SparkSession, segment: LogSegment): Seq[String] =
    if (!segment.checkpointIsV2) Seq.empty
    else checkpointInfo(spark, segment).sidecars

  /** A checkpoint's files read with the v2 top-level schema: the
    * classic actions plus `sidecar` and `checkpointMetadata` (null on a
    * classic checkpoint, whose parquet lacks those columns). A JSON
    * manifest line that does not parse fails the read ([[logJson]]). */
  private[log] def manifestDF(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    if (paths.head.endsWith(".json"))
      logJson(spark, Actions.v2CheckpointSchema, paths)
    else spark.read.schema(Actions.v2CheckpointSchema).parquet(paths: _*)

  /** The one distributed read of log JSON files. FAILFAST, as the
    * driver decoder ([[LogSegment.readLines]]): Spark's PERMISSIVE
    * default would turn a torn line into an all-null row that every
    * action filter then drops without a word. */
  private def logJson(spark: SparkSession, schema: StructType,
      paths: Seq[String]): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(paths: _*)

  /** The segment's checkpoint as logSchema-shaped action rows. Classic
    * and multipart checkpoints read directly; a V2 (UUID-named)
    * checkpoint reads its top-level file for the non-file actions and
    * the `sidecar` references, then the sidecar parquet files under
    * `_delta_log/_sidecars/` for the add/remove actions. */
  private def checkpointDF(spark: SparkSession,
      segment: LogSegment): DataFrame = {
    val paths = segment.checkpointFiles.map(_.getPath.toString)
    if (!segment.checkpointIsV2)
      return spark.read.schema(Actions.logSchema).parquet(paths: _*)

    val sidecars = checkpointInfo(spark, segment).sidecars
    val logCols = Actions.logSchema.fieldNames.toIndexedSeq.map(col)
    val nonFile = manifestDF(spark, paths)
      .where(col("sidecar").isNull && col("checkpointMetadata").isNull)
      .select(logCols: _*)
    if (sidecars.isEmpty) nonFile
    else nonFile.unionByName(
      spark.read.schema(Actions.logSchema).parquet(sidecars: _*))
  }

  /** What one checkpoint says about the table beyond its file actions:
    * its metaData, its protocol and, for a v2 checkpoint, its resolved
    * sidecar paths. */
  private case class CheckpointInfo(
      meta: Option[Actions.Metadata],
      proto: Option[Actions.Protocol],
      sidecars: Seq[String])

  /** Process-wide memo of [[CheckpointInfo]], keyed by the path, length
    * and mtime of every checkpoint part. A checkpoint is immutable once
    * published (parts and v2 manifests are written under a temporary
    * name and renamed into place, never rewritten), so its P&M and
    * sidecar list are a pure function of its files; a table re-created
    * at the same path writes new files, which change the key. Bounded
    * LRU over [[CacheMaxTables]] checkpoints. */
  private val checkpointMemo = new java.util.LinkedHashMap[
      Seq[(String, Long, Long)], CheckpointInfo](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        Seq[(String, Long, Long)], CheckpointInfo]): Boolean =
      size() > CacheMaxTables
  }

  /** The segment's [[CheckpointInfo]], from the memo when caching is on
    * (`spark.lakehouse.delta.enable_caching`, as for [[liveFiles]]);
    * off bypasses reads and stores alike. */
  private def checkpointInfo(spark: SparkSession,
      segment: LogSegment): CheckpointInfo = {
    if (!cachingEnabled(spark)) return loadCheckpointInfo(spark, segment)
    val key = segment.checkpointFiles.map(st =>
      (st.getPath.toString, st.getLen, st.getModificationTime))
    checkpointMemo.synchronized(Option(checkpointMemo.get(key))) match {
      case Some(info) =>
        ReplayCounters.checkpointHit.incrementAndGet()
        info
      case None =>
        val info = loadCheckpointInfo(spark, segment)
        checkpointMemo.synchronized(checkpointMemo.put(key, info))
        info
    }
  }

  /** One query over the checkpoint's files (the top-level manifest, for
    * a v2 checkpoint — its sidecars hold only add and remove actions). */
  private def loadCheckpointInfo(spark: SparkSession,
      segment: LogSegment): CheckpointInfo = {
    ReplayCounters.checkpointLoad.incrementAndGet()
    val rows = manifestDF(spark, segment.checkpointFiles.map(_.getPath.toString))
      .where(col("metaData").isNotNull || col("protocol").isNotNull ||
        col("checkpointMetadata").isNotNull || col("sidecar.path").isNotNull)
      .select(col("checkpointMetadata.version"), col("sidecar.path"),
        to_json(col("metaData")), to_json(col("protocol")))
      .collect()
    // fail closed on a mislabeled v2 manifest: the embedded version
    // must match the file-name version when present
    rows.foreach { r =>
      require(r.isNullAt(0) ||
        segment.checkpointVersion.contains(r.getLong(0)),
        s"v2 checkpoint manifest declares version ${r.getLong(0)} but " +
          s"is named for version ${segment.checkpointVersion.orNull}")
    }
    def json(i: Int) =
      rows.find(!_.isNullAt(i))
        .map(r => Actions.mapper.readTree(r.getString(i)))
    val sidecarDir = new Path(segment.logPath, "_sidecars")
    CheckpointInfo(
      meta = json(2).map(parseMetadata),
      proto = json(3).map(parseProtocol),
      sidecars = rows.filterNot(_.isNullAt(1)).map(_.getString(1))
        .map { p =>
          // spec: a file name relative to _delta_log/_sidecars/, or
          // an absolute path/URI
          if (p.contains("/")) p else new Path(sidecarDir, p).toString
        }.toSeq)
  }

  /** All actions in the segment, stamped with their commit version.
    * Checkpoint rows get the checkpoint version; commit rows parse their
    * version out of the file name. */
  def actionsDF(spark: SparkSession, segment: LogSegment): DataFrame = {
    val cp = segment.checkpointFiles match {
      case Seq() => None
      case _ =>
        Some(checkpointDF(spark, segment)
          .withColumn("commit_version", lit(segment.checkpointVersion.get)))
    }
    val commits = segment.commitFiles match {
      case Seq() => None
      case files =>
        Some(logJson(spark, Actions.logSchema, files.map(_.getPath.toString))
          // a compacted file's reconciled actions are attributed its END
          // version (the same loss of per-action provenance a checkpoint
          // has — ordering vs the checkpoint and vs later commits stays
          // correct because spans never overlap either)
          .withColumn("commit_version", coalesce(
            nullif(regexp_extract(col("_metadata.file_path"),
              """\d{20}\.(\d{20})\.compacted\.json""", 1), lit(""))
              .cast("long"),
            regexp_extract(col("_metadata.file_path"),
              """(\d{20})\.json""", 1).cast("long"))))
    }
    (cp, commits) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) =>
        throw new IllegalStateException("empty log segment")
    }
  }

  /** Commit tails smaller than this replay on the driver (no Spark
    * jobs); anything bigger — and every checkpoint — stays distributed. */
  private val DriverReplayMaxBytes = 8L * 1024 * 1024

  /** Per-table reconciled-state cache enabling INCREMENTAL refresh (the
    * kernel's `Snapshot::try_new_from` semantics): when a table is
    * re-resolved at a newer version and the cached state's log files are
    * an unchanged prefix of the current segment, only the new commit
    * tail is replayed on top of the cached rows — a hot table's refresh
    * cost is O(new commits), not O(log). Entries are driver-side Row
    * arrays (file metadata only — ~100 bytes/file, never data), bounded
    * LRU over tables, states of more than CacheMaxFilesPerTable files
    * (live adds plus tombstones) never cached. Each table keeps its
    * [[CacheStatesPerTable]] most recently used states, so a writer
    * whose transaction reads a version the readers have moved past (a
    * MERGE attempt racing appends) and a reader of a segment listed just
    * before a checkpoint landed still find theirs. */
  private val CacheMaxTables = 64
  private val CacheMaxFilesPerTable = 100000
  private val CacheStatesPerTable = 4

  /** The complete reconciled replay state of one table version: all a
    * checkpoint of that version holds besides metaData and protocol.
    * Arrays are never mutated once built.
    *
    * @param adds live files: [[Actions.addSchema]] columns plus
    *   commit_version
    * @param tombstones paths whose latest action is a remove, as
    *   [[Actions.removeSchema]] rows
    * @param txns the latest SetTransaction per appId in log order, as
    *   [[Actions.txnSchema]] rows
    * @param domains the latest domainMetadata action per domain, removal
    *   tombstones included, as [[Actions.domainMetadataSchema]] rows */
  private[log] final case class ReplayState(
      adds: Array[org.apache.spark.sql.Row],
      tombstones: Array[org.apache.spark.sql.Row],
      txns: Array[org.apache.spark.sql.Row],
      domains: Array[org.apache.spark.sql.Row]) {
    def files: Int = adds.length + tombstones.length

    /** The tombstones a checkpoint keeps: deleted at or after `cutoff`,
      * or with no deletion timestamp. */
    def tombstonesSince(cutoff: Long): Array[org.apache.spark.sql.Row] =
      tombstones.filter(t => t.isNullAt(1) || t.getLong(1) >= cutoff)
  }

  /** Applies file, txn and domain actions in log order on top of an
    * earlier state: the latest action per path, appId and domain wins. */
  private final class StateBuilder(from: Option[ReplayState]) {
    import org.apache.spark.sql.Row
    private def keyed(rows: Array[Row]) = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Row]
      rows.foreach(r => m.put(r.getString(0), r))
      m
    }
    private val live = keyed(from.fold(Array.empty[Row])(_.adds))
    private val removed = keyed(from.fold(Array.empty[Row])(_.tombstones))
    private val txns = keyed(from.fold(Array.empty[Row])(_.txns))
    private val domains = keyed(from.fold(Array.empty[Row])(_.domains))

    def remove(r: Row): Unit = {
      live.remove(r.getString(0))
      removed.put(r.getString(0), r)
    }
    // a re-added path moves to the end, as a fresh add would
    def add(r: Row): Unit = {
      removed.remove(r.getString(0))
      live.remove(r.getString(0))
      live.put(r.getString(0), r)
    }
    def txn(r: Row): Unit = txns.put(r.getString(0), r)
    def domain(r: Row): Unit = domains.put(r.getString(0), r)

    def result: ReplayState = ReplayState(live.values.toArray,
      removed.values.toArray, txns.values.toArray, domains.values.toArray)
  }

  private case class CachedState(
      version: Long,
      // (name, length, mtime) of every log file the state was built from
      sigs: Seq[(String, Long, Long)],
      // head-bytes hash of the tip file: stat-identical same-second
      // recreations still change commit content (fresh metadata UUID,
      // ms commitInfo timestamps); byte-identical recreations would
      // serve an identical list, which is harmless
      contentMark: Long,
      state: ReplayState)

  /** Per table, its cached states, most recently used first. */
  private val stateCache =
    new java.util.LinkedHashMap[String, List[CachedState]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, List[CachedState]]): Boolean =
        size() > CacheMaxTables
    }

  private def cachedStates(tableKey: String): List[CachedState] =
    stateCache.synchronized {
      Option(stateCache.get(tableKey)).getOrElse(Nil)
    }

  /** Put `fresh` first in the table's states, in place of any state of
    * the same version and files; the least recently used fall off. */
  private def remember(tableKey: String, fresh: Seq[CachedState]): Unit =
    stateCache.synchronized {
      val keep = cachedStates(tableKey).filterNot(c =>
        fresh.exists(f => f.version == c.version && f.sigs == c.sigs))
      stateCache.put(tableKey,
        (fresh.toList ++ keep).take(CacheStatesPerTable))
    }

  /** `spark.lakehouse.delta.enable_caching` (the reference's
    * lakehouse.delta.enable_caching knob, config.rs:28): our caches are
    * content-guarded so it defaults ON (documented divergence from the
    * reference's false default — its cache has no invalidation story);
    * false bypasses reads AND stores, the reference's off semantics. */
  private def cachingEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.lakehouse.delta.enable_caching")
      .forall(_.toBoolean)

  /** Test observability: how snapshots were served, and how checkpoint
    * P&M/sidecar lookups were (memo hit, or one query over the
    * checkpoint). */
  private[graft] object ReplayCounters {
    val hit = new java.util.concurrent.atomic.AtomicLong
    val incremental = new java.util.concurrent.atomic.AtomicLong
    val full = new java.util.concurrent.atomic.AtomicLong
    val checkpointHit = new java.util.concurrent.atomic.AtomicLong
    val checkpointLoad = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = Seq(hit, incremental, full, checkpointHit,
      checkpointLoad).foreach(_.set(0))
  }

  private def sigOf(st: org.apache.hadoop.fs.FileStatus): (String, Long, Long) =
    (st.getPath.getName, st.getLen, st.getModificationTime)

  /** Head-bytes hash of a log file; None when unreadable (e.g. cleaned
    * up since caching) — callers treat that as a cache mismatch. */
  private def headHash(spark: SparkSession, tablePath: Path,
      name: String): Option[Long] = scala.util.Try {
    val fs = LogSegment.fs(spark, tablePath)
    val p = new Path(new Path(tablePath, "_delta_log"), name)
    val buf = new Array[Byte](64 * 1024)
    val in = fs.open(p)
    val n = try in.read(buf, 0, buf.length) finally in.close()
    (0 until math.max(n, 0)).foldLeft(17L)((h, i) => h * 31 + buf(i))
  }.toOption

  /** Version a log file (commit, compaction or checkpoint artifact)
    * contributes state up to. */
  private def fileVersion(name: String): Long =
    LogSegment.commitVersion(name)
      .orElse(LogSegment.compactedRange(name).map(_._2))
      .orElse(LogSegment.checkpointArtifactVersion(name))
      .getOrElse(-1L)

  private def logBytes(segment: LogSegment): Long =
    segment.checkpointFiles.map(_.getLen).sum +
      segment.commitFiles.map(_.getLen).sum

  /** The reconciled live file set: one row per live AddFile (columns of
    * Actions.addSchema plus commit_version). Reconciliation rule: the
    * latest action for a path wins; within one commit a re-add supersedes
    * a remove of the same path.
    *
    * Small logs (at most [[DriverReplayMaxBytes]]) resolve through the
    * driver state cache ([[resolveState]]; the common interactive case:
    * a handful of JSON commits does not warrant distributed jobs —
    * mirrors the kernel's driver-side replay); large logs use the
    * distributed window plan. */
  def liveFiles(spark: SparkSession, segment: LogSegment): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    if (logBytes(segment) > DriverReplayMaxBytes)
      // large-log path stays fully lazy — the file list is never
      // materialized before pruning
      return liveFilesDistributed(spark, segment)
    val rows = resolveState(spark, segment).adds
    val schema = StructType(Actions.addSchema.fields :+
      StructField("commit_version", LongType))
    val l = new java.util.ArrayList[org.apache.spark.sql.Row](rows.length)
    rows.foreach(l.add)
    spark.createDataFrame(l, schema)
  }

  /** The replay state of `segment` as the state cache holds it, resolved
    * the way [[liveFiles]] resolves it (hit, incremental or full). None
    * where the cache holds no state: caching off, a log above
    * [[DriverReplayMaxBytes]], or a state of more than
    * [[CacheMaxFilesPerTable]] files. */
  private[log] def cachedState(spark: SparkSession,
      segment: LogSegment): Option[ReplayState] =
    if (!cachingEnabled(spark) || logBytes(segment) > DriverReplayMaxBytes)
      None
    else Some(resolveState(spark, segment))
      .filter(_.files <= CacheMaxFilesPerTable)

  /** The small-log replay state, which lives in the per-table driver
    * cache. Resolution order: exact hit (same version, unchanged files)
    * -> incremental (cached version is an unchanged prefix: replay only
    * the new commit tail onto the cached state) -> full replay.
    * Checkpoint-less logs replay with plain Jackson (zero Spark jobs);
    * small checkpoints pay one distributed read. */
  private def resolveState(spark: SparkSession,
      segment: LogSegment): ReplayState = {
    val tableKey = segment.tablePath.toString
    val allFilesNow = segment.checkpointFiles ++ segment.commitFiles
    val sigsNow = allFilesNow.map(sigOf)
    val cachingOn = cachingEnabled(spark)
    val cached = if (cachingOn) cachedStates(tableKey) else Nil
    def unchanged(c: CachedState) =
      headHash(spark, segment.tablePath, c.sigs.last._1).contains(c.contentMark)

    def store(state: ReplayState): Unit =
      for (mark <- headHash(spark, segment.tablePath, sigsNow.last._1)
           if cachingOn && state.files <= CacheMaxFilesPerTable)
        remember(tableKey, Seq(CachedState(segment.version, sigsNow, mark, state)))

    // exact hit: same version, identical file stats + tip content
    cached.find(c => c.version == segment.version && c.sigs == sigsNow &&
        unchanged(c)) match {
      case Some(c) =>
        ReplayCounters.hit.incrementAndGet()
        remember(tableKey, Seq(c))
        c.state
      case None =>
        // incremental: the newest cached state whose files are an
        // unchanged prefix of the current segment (a checkpoint handed
        // the state on, or none swallowed them) — apply only the commits
        // past its version
        cached.filter(_.version < segment.version).sortBy(-_.version)
          .find(c => allFilesNow
            .filter(st => fileVersion(st.getPath.getName) <= c.version)
            .map(sigOf) == c.sigs && unchanged(c)) match {
          case Some(c) =>
            ReplayCounters.incremental.incrementAndGet()
            val tail = segment.commitFiles
              .filter(st => fileVersion(st.getPath.getName) > c.version)
            val computed = replayCommits(spark, segment, tail, Some(c.state))
            store(computed)
            computed
          case None =>
            ReplayCounters.full.incrementAndGet()
            val computed =
              if (segment.checkpointFiles.isEmpty)
                replayCommits(spark, segment, segment.commitFiles, None)
              else replayCollected(spark, segment)
            store(computed)
            computed
        }
    }
  }

  /** Hand a just-published checkpoint of `segment` on to the caches, so
    * the next resolve at or past its version is a hit or an incremental
    * replay rather than a full one. Call only once the checkpoint's
    * parts, its manifest and `_last_checkpoint` are all published.
    *  - The checkpoint memo learns the checkpoint's P&M and sidecars,
    *    keyed by `parts` (path, length, mtime), in the order a listing
    *    resolves them.
    *  - Each cached state at or past the checkpoint version whose files
    *    at or below that version are exactly the segment's gains a twin
    *    keyed by the checkpoint's files in their place (a state past the
    *    checkpoint keeps its commit tail). As in a replay of the
    *    checkpoint, the twin's live files at or below the checkpoint
    *    version take its version as their commit_version, and its
    *    tombstones are those deleted at or after `tombstoneCutoff` (the
    *    ones the checkpoint keeps), so a long-lived hot state does not
    *    accumulate expired tombstones.
    * With caching off this does nothing. */
  private[log] def handOff(spark: SparkSession, segment: LogSegment,
      parts: Seq[org.apache.hadoop.fs.FileStatus], tombstoneCutoff: Long,
      meta: Actions.Metadata, proto: Actions.Protocol,
      sidecars: Seq[String]): Unit = {
    if (!cachingEnabled(spark)) return
    val v = segment.version
    checkpointMemo.synchronized(checkpointMemo.put(
      parts.map(st => (st.getPath.toString, st.getLen, st.getModificationTime)),
      CheckpointInfo(Some(meta), Some(proto), sidecars)))
    val cpSigs = parts.map(sigOf)
    val segmentSigs = (segment.checkpointFiles ++ segment.commitFiles).map(sigOf)
    def replayed(s: ReplayState) = s.copy(
      adds = s.adds.map(r =>
        if (r.getLong(r.length - 1) >= v) r
        else org.apache.spark.sql.Row.fromSeq(r.toSeq.init :+ v)),
      tombstones = s.tombstonesSince(tombstoneCutoff))
    val tableKey = segment.tablePath.toString
    for (cpMark <- headHash(spark, segment.tablePath, cpSigs.last._1))
      stateCache.synchronized {
        remember(tableKey, cachedStates(tableKey).filter(c => c.version >= v &&
            c.sigs.filter(s => fileVersion(s._1) <= v) == segmentSigs)
          .map { c =>
            val tail = c.sigs.filter(s => fileVersion(s._1) > v)
            CachedState(c.version, cpSigs ++ tail,
              if (tail.isEmpty) cpMark else c.contentMark, replayed(c.state))
          })
      }
  }

  /** Full replay of a checkpointed segment: ONE distributed read of the
    * segment's add, remove, txn and domainMetadata actions, reconciled
    * on the driver in commit order (removes before adds within a
    * commit, so a re-add supersedes a remove; within a commit the
    * highest txn version wins, as in the distributed checkpoint). */
  private def replayCollected(spark: SparkSession,
      segment: LogSegment): ReplayState = {
    import org.apache.spark.sql.Row
    val rows = actionsDF(spark, segment)
      .where(col("add").isNotNull || col("remove").isNotNull ||
        col("txn").isNotNull || col("domainMetadata").isNotNull)
      .select("add", "remove", "txn", "domainMetadata", "commit_version")
      .collect()
    val b = new StateBuilder(None)
    for ((v, rs) <- rows.groupBy(_.getLong(4)).toSeq.sortBy(_._1)) {
      rs.filterNot(_.isNullAt(1)).foreach(r => b.remove(r.getStruct(1)))
      rs.filterNot(_.isNullAt(0))
        .foreach(r => b.add(Row.fromSeq(r.getStruct(0).toSeq :+ v)))
      rs.filterNot(_.isNullAt(2)).map(_.getStruct(2))
        .sortBy(t => if (t.isNullAt(1)) Long.MinValue else t.getLong(1))
        .foreach(b.txn)
      rs.filterNot(_.isNullAt(3)).foreach(r => b.domain(r.getStruct(3)))
    }
    b.result
  }

  /** partitionValues of an add node with JSON null PRESERVED as null —
    * a null partition value is the null partition, not the string
    * "null" (strMap would stringify it). Shared by replay and the
    * streaming source's tail parser so the two can never disagree. */
  def partitionValuesOf(a: JsonNode): Map[String, String] =
    Option(a.get("partitionValues")).filterNot(_.isNull).map { m =>
      m.properties().asScala.map(e =>
        e.getKey -> (if (e.getValue.isNull) null
                     else e.getValue.asText())).toMap
    }.getOrElse(Map.empty)

  /** DeletionVectorDescriptor of an add node, if present. */
  def dvDescriptorOf(a: JsonNode): Option[Actions.DeletionVectorDescriptor] =
    Option(a.get("deletionVector")).filterNot(_.isNull).map { d =>
      Actions.DeletionVectorDescriptor(
        storageType = d.get("storageType").asText(),
        pathOrInlineDv = d.get("pathOrInlineDv").asText(),
        offset = Option(d.get("offset")).filterNot(_.isNull).map(_.asInt()),
        sizeInBytes = d.get("sizeInBytes").asInt(),
        cardinality = d.get("cardinality").asLong())
    }

  private def dvRow(a: JsonNode): org.apache.spark.sql.Row =
    dvDescriptorOf(a).map(d => org.apache.spark.sql.Row(d.storageType,
      d.pathOrInlineDv, d.offset.map(Int.box).orNull, d.sizeInBytes,
      d.cardinality)).orNull

  private def optLongBox(n: JsonNode, f: String): java.lang.Long =
    optLong(n, f).map(Long.box).orNull

  /** Apply `commits` (in order) on top of `from`; latest action wins,
    * re-adds in the same commit supersede removes because removes apply
    * first, and a later txn or domain line of a commit wins over an
    * earlier one. */
  private def replayCommits(spark: SparkSession, segment: LogSegment,
      commits: Seq[org.apache.hadoop.fs.FileStatus],
      from: Option[ReplayState]): ReplayState = {
    import org.apache.spark.sql.Row
    val fs = LogSegment.fs(spark, segment.tablePath)
    val b = new StateBuilder(from)
    for (commit <- commits) {
      val version = fileVersion(commit.getPath.getName)
      val nodes = LogSegment.readLines(fs, commit.getPath).map(_.node)
      for (n <- nodes if n.has("remove")) {
        val r = n.get("remove")
        b.remove(Row(r.get("path").asText(),
          optLongBox(r, "deletionTimestamp"), Actions.dataChange(r), dvRow(r)))
      }
      for (n <- nodes if n.has("add")) {
        val a = n.get("add")
        b.add(Row(
          a.get("path").asText(), partitionValuesOf(a), a.get("size").asLong(),
          a.get("modificationTime").asLong(),
          Actions.dataChange(a),
          optStr(a, "stats").orNull, dvRow(a),
          optLongBox(a, "baseRowId"), optLongBox(a, "defaultRowCommitVersion"),
          version))
      }
      for (n <- nodes if n.has("txn")) {
        val t = n.get("txn")
        b.txn(Row(t.get("appId").asText(), t.get("version").asLong(),
          optLongBox(t, "lastUpdated")))
      }
      for (n <- nodes if n.has("domainMetadata")) {
        val d = n.get("domainMetadata")
        b.domain(Row(d.get("domain").asText(),
          optStr(d, "configuration").orNull,
          Option(d.get("removed")).exists(_.asBoolean(false))))
      }
    }
    b.result
  }

  /** Unreclaimed remove tombstones: one row per path whose latest action
    * in the segment is a remove (i.e. removed and not re-added), with the
    * winning remove struct. Used by checkpointing to retain tombstones. */
  def tombstones(spark: SparkSession, segment: LogSegment): DataFrame =
    latestFileActions(spark, segment).where(!col("is_add"))
      .select(col("remove"), col("commit_version"))

  /** The reconciliation window: each path's winning file action in the
    * segment, as (path, is_add, commit_version, add, remove). The latest
    * commit wins; within one commit a re-add supersedes a remove. */
  private def latestFileActions(spark: SparkSession,
      segment: LogSegment): DataFrame = {
    val w = Window.partitionBy("path")
      .orderBy(col("commit_version").desc, col("is_add").desc)
    actionsDF(spark, segment)
      .where(col("add").isNotNull || col("remove").isNotNull)
      .select(
        coalesce(col("add.path"), col("remove.path")).as("path"),
        col("add").isNotNull.as("is_add"),
        col("commit_version"), col("add"), col("remove"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
  }

  /** Latest state of ONE domain, resolved the way metadataAndProtocol
    * is: the commit tail is scanned DRIVER-side newest-first (for hot
    * domains like `delta.rowTracking` the action lives in the latest
    * commit, so the common case is one small file read and ZERO Spark
    * jobs — this sits on every row-tracked commit attempt), falling
    * back to the replay state the cache holds (a commit right after a
    * checkpoint), else one query over the checkpoint. None when the
    * domain is absent or its latest action is a removal tombstone. */
  def domainMetadataFor(spark: SparkSession, segment: LogSegment,
      domain: String): Option[Actions.DomainMetadata] = {
    val fs = LogSegment.fs(spark, segment.tablePath)
    for (commit <- segment.commitFiles.reverseIterator) {
      var found: Option[Actions.DomainMetadata] = None
      for (line <- LogSegment.readLines(fs, commit.getPath)) {
        val d = line.node.get("domainMetadata")
        if (d != null && !d.isNull && d.get("domain").asText() == domain)
          found = Some(Actions.DomainMetadata(domain,
            Option(d.get("configuration")).filterNot(_.isNull)
              .map(_.asText()).getOrElse(""),
            Option(d.get("removed")).exists(_.asBoolean(false))))
      }
      if (found.isDefined) return found.filterNot(_.removed)
    }
    if (segment.checkpointFiles.isEmpty) return None
    cachedState(spark, segment) match {
      case Some(s) =>
        s.domains.find(_.getString(0) == domain).map(domainOf)
          .filterNot(_.removed)
      case None =>
        checkpointDF(spark, segment)
          .where(col("domainMetadata.domain") === domain)
          .select(col("domainMetadata.configuration"),
            col("domainMetadata.removed"))
          .collect().headOption
          .filterNot(r => !r.isNullAt(1) && r.getBoolean(1))
          .map(r => Actions.DomainMetadata(domain, r.getString(0),
            removed = false))
    }
  }

  /** Reconciled domain metadata: the latest action per domain in log
    * order, `removed=true` tombstones dropped — from the replay state
    * the cache holds, else one query. Domain count is tiny by
    * construction (system domains like `delta.rowTracking` plus user
    * config), so this collects driver-side like metadataAndProtocol. */
  def domainMetadata(spark: SparkSession,
      segment: LogSegment): Map[String, Actions.DomainMetadata] =
    cachedState(spark, segment) match {
      case Some(s) =>
        s.domains.map(domainOf).filterNot(_.removed).map(d => d.domain -> d)
          .toMap
      case None =>
        latestDomainActions(spark, segment)
          .where(!col("domainMetadata.removed"))
          .select("domainMetadata.domain", "domainMetadata.configuration")
          .collect()
          .map(r => r.getString(0) -> Actions.DomainMetadata(
            r.getString(0), r.getString(1), removed = false))
          .toMap
    }

  /** A [[ReplayState]] domain row as its action. */
  private def domainOf(r: org.apache.spark.sql.Row): Actions.DomainMetadata =
    Actions.DomainMetadata(r.getString(0), r.getString(1),
      !r.isNullAt(2) && r.getBoolean(2))

  /** The latest domainMetadata action per domain in log order, removal
    * tombstones included. */
  private[log] def latestDomainActions(spark: SparkSession,
      segment: LogSegment): DataFrame =
    actionsDF(spark, segment)
      .where(col("domainMetadata").isNotNull)
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("domainMetadata.domain"))
        .orderBy(col("commit_version").desc)))
      .where(col("rn") === 1)

  /** Test hook: the distributed replay plan regardless of log size (the
    * cold-truth reference the incremental path is asserted against). */
  private[graft] def liveFilesDistributedForTest(spark: SparkSession,
      segment: LogSegment): DataFrame = liveFilesDistributed(spark, segment)

  private def liveFilesDistributed(spark: SparkSession,
      segment: LogSegment): DataFrame =
    latestFileActions(spark, segment).where(col("is_add"))
      .select(col("add.*"), col("commit_version"))

  /** Latest metadata + protocol. Commit tails are scanned driver-side
    * newest-first (they are small and P&M almost always live there);
    * whatever the tail lacks comes from the checkpoint's P&M, held in the
    * process-wide checkpoint memo (keyed by the path, length and mtime of
    * every checkpoint part). A checkpoint never changes once published,
    * so its P&M can be memoized: after the first resolve, a checkpointed
    * log resolves with driver-side work only. A memo miss, and every call
    * with caching off, costs one query over the checkpoint. */
  def metadataAndProtocol(spark: SparkSession,
      segment: LogSegment): (Actions.Metadata, Actions.Protocol) = {
    var meta: Option[Actions.Metadata] = None
    var proto: Option[Actions.Protocol] = None
    val fs = LogSegment.fs(spark, segment.tablePath)
    for (commit <- segment.commitFiles.reverse
         if meta.isEmpty || proto.isEmpty) {
      // within a commit the last occurrence wins; scan lines in reverse
      for (node <- LogSegment.readLines(fs, commit.getPath).reverseIterator
             .map(_.node)) {
        if (meta.isEmpty && node.has("metaData"))
          meta = Some(parseMetadata(node.get("metaData")))
        if (proto.isEmpty && node.has("protocol"))
          proto = Some(parseProtocol(node.get("protocol")))
      }
    }
    if ((meta.isEmpty || proto.isEmpty) && segment.checkpointFiles.nonEmpty) {
      val cp = checkpointInfo(spark, segment)
      meta = meta.orElse(cp.meta)
      proto = proto.orElse(cp.proto)
    }
    (meta.getOrElse(throw new IllegalStateException(
        s"No metaData action found in log of ${segment.tablePath}")),
      proto.getOrElse(Actions.Protocol()))
  }

  // ---- driver-side JSON → ADT parsing -------------------------------

  private def optStr(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText())
  private def optLong(n: JsonNode, f: String): Option[Long] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asLong())

  private def strMap(n: JsonNode, f: String): Map[String, String] =
    Option(n.get(f)).filterNot(_.isNull).map { m =>
      m.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)

  def parseMetadata(n: JsonNode): Actions.Metadata = Actions.Metadata(
    id = n.get("id").asText(),
    name = optStr(n, "name"),
    description = optStr(n, "description"),
    format = Actions.Format(
      provider = Option(n.get("format")).flatMap(f => optStr(f, "provider"))
        .getOrElse("parquet"),
      options = Option(n.get("format")).map(f => strMap(f, "options"))
        .getOrElse(Map.empty)),
    schemaString = n.get("schemaString").asText(),
    partitionColumns = Option(n.get("partitionColumns"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty),
    configuration = strMap(n, "configuration"),
    createdTime = optLong(n, "createdTime"))

  def parseProtocol(n: JsonNode): Actions.Protocol = Actions.Protocol(
    minReaderVersion = n.get("minReaderVersion").asInt(),
    minWriterVersion = n.get("minWriterVersion").asInt(),
    readerFeatures = Option(n.get("readerFeatures")).filterNot(_.isNull)
      .map(_.elements().asScala.map(_.asText()).toSeq),
    writerFeatures = Option(n.get("writerFeatures")).filterNot(_.isNull)
      .map(_.elements().asScala.map(_.asText()).toSeq))
}
