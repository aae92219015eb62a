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
    * LRU over tables, oversized file lists never cached. */
  private val CacheMaxTables = 64
  private val CacheMaxFilesPerTable = 100000

  private case class CachedState(
      version: Long,
      // (name, length, mtime) of every log file the state was built from
      sigs: Seq[(String, Long, Long)],
      // head-bytes hash of the tip file: stat-identical same-second
      // recreations still change commit content (fresh metadata UUID,
      // ms commitInfo timestamps); byte-identical recreations would
      // serve an identical list, which is harmless
      contentMark: Long,
      rows: Array[org.apache.spark.sql.Row])

  private val stateCache =
    new java.util.LinkedHashMap[String, CachedState](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CachedState]): Boolean =
        size() > CacheMaxTables
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
  private def headHash(spark: SparkSession, segment: LogSegment,
      name: String): Option[Long] = scala.util.Try {
    val fs = LogSegment.fs(spark, segment.tablePath)
    val p = new Path(new Path(segment.tablePath, "_delta_log"), name)
    val buf = new Array[Byte](64 * 1024)
    val in = fs.open(p)
    val n = try in.read(buf, 0, buf.length) finally in.close()
    (0 until math.max(n, 0)).foldLeft(17L)((h, i) => h * 31 + buf(i))
  }.toOption

  /** Version a log file contributes state up to. */
  private def fileVersion(segment: LogSegment,
      st: org.apache.hadoop.fs.FileStatus): Long =
    LogSegment.commitVersion(st.getPath.getName)
      .orElse(LogSegment.compactedRange(st.getPath.getName).map(_._2))
      .getOrElse(segment.checkpointVersion.getOrElse(-1L))

  /** The reconciled live file set: one row per live AddFile (columns of
    * Actions.addSchema plus commit_version). Reconciliation rule: the
    * latest action for a path wins; within one commit a re-add supersedes
    * a remove of the same path.
    *
    * Small checkpoint-less logs replay driver-side (the common
    * interactive case: a handful of JSON commits does not warrant
    * distributed jobs — mirrors the kernel's driver-side replay); large
    * logs use the distributed window plan. */
  def liveFiles(spark: SparkSession, segment: LogSegment): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val logBytes = segment.checkpointFiles.map(_.getLen).sum +
      segment.commitFiles.map(_.getLen).sum
    if (logBytes > DriverReplayMaxBytes)
      // large-log path stays fully lazy — the file list is never
      // materialized before pruning
      return liveFilesDistributed(spark, segment)

    // small-log path: the reconciled list is tiny, so it lives in the
    // per-table driver cache. Resolution order: exact hit (same version,
    // unchanged files) -> incremental (cached version is an unchanged
    // prefix: replay only the new commit tail onto the cached rows) ->
    // full replay. Checkpoint-less logs replay with plain Jackson (zero
    // Spark jobs); small checkpoints pay one distributed read.
    val tableKey = segment.tablePath.toString
    val allFilesNow = segment.checkpointFiles ++ segment.commitFiles
    val sigsNow = allFilesNow.map(sigOf)
    val cachingOn = cachingEnabled(spark)
    val cached =
      if (!cachingOn) None
      else stateCache.synchronized { Option(stateCache.get(tableKey)) }

    // never let a TIME-TRAVEL read of an older version clobber the hot
    // latest state (the next latest read would then full-replay)
    def store(rows: Array[org.apache.spark.sql.Row]): Unit =
      for (mark <- headHash(spark, segment, sigsNow.last._1)
           if cachingOn && rows.length <= CacheMaxFilesPerTable &&
             cached.forall(_.version <= segment.version))
        stateCache.synchronized {
          stateCache.put(tableKey,
            CachedState(segment.version, sigsNow, mark, rows))
        }

    val rows = cached match {
      // exact hit: same version, identical file stats + tip content
      case Some(c) if c.version == segment.version && c.sigs == sigsNow &&
          headHash(spark, segment, sigsNow.last._1).contains(c.contentMark) =>
        ReplayCounters.hit.incrementAndGet()
        c.rows
      // incremental: the cached state's files are an unchanged prefix of
      // the current segment (no new checkpoint swallowed them) — apply
      // only the commits past the cached version
      case Some(c) if c.version < segment.version &&
          allFilesNow.filter(fileVersion(segment, _) <= c.version)
            .map(sigOf) == c.sigs &&
          headHash(spark, segment, c.sigs.last._1).contains(c.contentMark) =>
        ReplayCounters.incremental.incrementAndGet()
        val live = scala.collection.mutable.LinkedHashMap.empty[
          String, org.apache.spark.sql.Row]
        c.rows.foreach(r => live.put(r.getString(0), r))
        val tail = segment.commitFiles
          .filter(st => fileVersion(segment, st) > c.version)
        val computed = replayCommits(spark, segment, tail, live)
        store(computed)
        computed
      case _ =>
        ReplayCounters.full.incrementAndGet()
        val computed =
          if (segment.checkpointFiles.isEmpty)
            replayCommits(spark, segment, segment.commitFiles,
              scala.collection.mutable.LinkedHashMap.empty)
          else liveFilesDistributed(spark, segment).collect()
        store(computed)
        computed
    }
    val schema = StructType(Actions.addSchema.fields :+
      StructField("commit_version", LongType))
    val l = new java.util.ArrayList[org.apache.spark.sql.Row](rows.length)
    rows.foreach(l.add)
    spark.createDataFrame(l, schema)
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

  /** Apply `commits` (in order) on top of `live` (path -> add row);
    * latest action wins, re-adds in the same commit supersede removes
    * because removes apply first. */
  private def replayCommits(spark: SparkSession, segment: LogSegment,
      commits: Seq[org.apache.hadoop.fs.FileStatus],
      live: scala.collection.mutable.LinkedHashMap[String, org.apache.spark.sql.Row])
      : Array[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    val fs = LogSegment.fs(spark, segment.tablePath)
    for (commit <- commits) {
      val version = fileVersion(segment, commit)
      val nodes = LogSegment.readLines(fs, commit.getPath).map(_.node)
      for (n <- nodes if n.has("remove"))
        live.remove(n.get("remove").get("path").asText())
      for (n <- nodes if n.has("add")) {
        val a = n.get("add")
        val dv = dvDescriptorOf(a).map(d =>
          Row(d.storageType, d.pathOrInlineDv,
            d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality))
          .orNull
        val path = a.get("path").asText()
        live.remove(path)
        live.put(path, Row(
          path, partitionValuesOf(a), a.get("size").asLong(),
          a.get("modificationTime").asLong(),
          Actions.dataChange(a),
          optStr(a, "stats").orNull, dv,
          Option(a.get("baseRowId")).filterNot(_.isNull)
            .map(n => Long.box(n.asLong())).orNull,
          Option(a.get("defaultRowCommitVersion")).filterNot(_.isNull)
            .map(n => Long.box(n.asLong())).orNull,
          version))
      }
    }
    live.values.toArray
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
    * back to one query over the checkpoint. None when the domain is
    * absent or its latest action is a removal tombstone. */
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
    checkpointDF(spark, segment)
      .where(col("domainMetadata.domain") === domain)
      .select(col("domainMetadata.configuration"),
        col("domainMetadata.removed"))
      .collect().headOption
      .filterNot(r => !r.isNullAt(1) && r.getBoolean(1))
      .map(r => Actions.DomainMetadata(domain, r.getString(0),
        removed = false))
  }

  /** Reconciled domain metadata: the latest action per domain in log
    * order, `removed=true` tombstones dropped. Domain count is tiny by
    * construction (system domains like `delta.rowTracking` plus user
    * config), so this collects driver-side like metadataAndProtocol. */
  def domainMetadata(spark: SparkSession,
      segment: LogSegment): Map[String, Actions.DomainMetadata] =
    latestDomainActions(spark, segment)
      .where(!col("domainMetadata.removed"))
      .select("domainMetadata.domain", "domainMetadata.configuration")
      .collect()
      .map(r => r.getString(0) -> Actions.DomainMetadata(
        r.getString(0), r.getString(1), removed = false))
      .toMap

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
