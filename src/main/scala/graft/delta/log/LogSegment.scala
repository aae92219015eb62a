package graft.delta.log

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.JsonNode

/** The set of log files that defines one table version: an optional
  * checkpoint plus the JSON commits after it.
  *
  * Mirrors the log-bootstrap path the reference drives through
  * delta-kernel's `Snapshot::try_new` (reference:
  * crates/datafusion/src/session.rs:169-191 and
  * crates/datafusion/src/engine/storage.rs:66-72 — ordered `_delta_log`
  * listing, `_last_checkpoint` probe), re-expressed over Hadoop FS.
  */
final case class LogSegment(
    tablePath: Path,
    version: Long,
    checkpointVersion: Option[Long],
    checkpointFiles: Seq[FileStatus],
    commitFiles: Seq[FileStatus], // ascending version order
    checkpointIsV2: Boolean = false) { // UUID-named, sidecar-bearing

  def logPath: Path = new Path(tablePath, "_delta_log")
}

object LogSegment {
  private val commitRe = """^(\d{20})\.json$""".r
  private val checkpointRe = """^(\d{20})\.checkpoint\.parquet$""".r
  private val multiCheckpointRe =
    """^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$""".r
  /** V2 ("UUID-named") checkpoints: <v>.checkpoint.<uuid>.{parquet|json} */
  private val v2CheckpointRe =
    """^(\d{20})\.checkpoint\.([0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12})\.(parquet|json)$""".r

  /** Minor log compactions: <x>.<y>.compacted.json (see
    * [[LogCompaction]]). */
  private val compactedRe = """^(\d{20})\.(\d{20})\.compacted\.json$""".r

  def commitFileName(version: Long): String = f"$version%020d.json"
  def checkpointFileName(version: Long): String =
    f"$version%020d.checkpoint.parquet"
  def compactedFileName(start: Long, end: Long): String =
    f"$start%020d.$end%020d.compacted.json"

  /** (start, end) of a log-compaction file name. */
  def compactedRange(name: String): Option[(Long, Long)] = name match {
    case compactedRe(a, b) => Some((a.toLong, b.toLong))
    case _ => None
  }

  def commitVersion(name: String): Option[Long] = name match {
    case commitRe(v) => Some(v.toLong)
    case _ => None
  }

  /** Version of any checkpoint artifact file name (classic single-file,
    * multi-part part, or v2 UUID-named manifest). */
  def checkpointArtifactVersion(name: String): Option[Long] = name match {
    case checkpointRe(v) => Some(v.toLong)
    case multiCheckpointRe(v, _, _) => Some(v.toLong)
    case v2CheckpointRe(v, _, _) => Some(v.toLong)
    case _ => None
  }

  /** Version of a v2 (UUID-named) checkpoint manifest file name. */
  def v2ManifestVersion(name: String): Option[Long] = name match {
    case v2CheckpointRe(v, _, _) => Some(v.toLong)
    case _ => None
  }

  /** Versions with a COMPLETE checkpoint among `names`: single-file and
    * v2 manifests are self-contained; a multi-part set counts only when
    * every declared part is present (the same rule forTable applies). */
  def completeCheckpointVersions(names: Seq[String]): Set[Long] = {
    val singles = names.collect { case checkpointRe(v) => v.toLong }
    val v2s = names.collect { case v2CheckpointRe(v, _, _) => v.toLong }
    val multi = names
      .collect { case multiCheckpointRe(v, _, parts) =>
        (v.toLong, parts.toInt) }
      .groupBy(identity)
      .collect { case ((v, parts), g) if g.size == parts => v }
    (singles ++ v2s ++ multi).toSet
  }

  /** `_delta_log` exists but holds no commit or complete checkpoint yet
    * (a table mid-create). */
  final class EmptyLogException(tablePath: Path)
      extends IllegalArgumentException(s"Empty _delta_log at $tablePath")

  def fs(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConf())

  /** Resolve the newest (or `versionAsOf`) segment for a table. */
  def forTable(spark: SparkSession, tablePath: Path,
      versionAsOf: Option[Long] = None): LogSegment = {
    val logPath = new Path(tablePath, "_delta_log")
    val fileSystem = fs(spark, tablePath)
    if (!fileSystem.exists(logPath))
      throw new IllegalArgumentException(
        s"Not a Delta table (no _delta_log): $tablePath")

    val entries = fileSystem.listStatus(logPath).toSeq
    val commits = entries.flatMap { st =>
      commitVersion(st.getPath.getName).map(v => v -> st)
    }.sortBy(_._1)
    // single-file and multi-part checkpoints, grouped by version
    val singleCps = entries.flatMap { st =>
      st.getPath.getName match {
        case checkpointRe(v) => Some(v.toLong -> Seq(st))
        case _ => None
      }
    }
    val multiCps = entries.flatMap { st =>
      st.getPath.getName match {
        case multiCheckpointRe(v, _, parts) => Some((v.toLong, parts.toInt, st))
        case _ => None
      }
    }.groupBy(t => (t._1, t._2)).collect {
      case ((v, parts), sts) if sts.size == parts =>
        v -> sts.sortBy(_._3.getPath.getName).map(_._3)
    }
    val v2Cps = entries.flatMap { st =>
      st.getPath.getName match {
        case v2CheckpointRe(v, _, _) => Some(v.toLong -> Seq(st))
        case _ => None
      }
    }
    // a v2 checkpoint wins over a classic one at the same version (the
    // classic form at that version is a compatibility copy)
    val checkpoints = (singleCps ++ multiCps).toMap ++ v2Cps.toMap
    val v2Versions = v2Cps.map(_._1).toSet

    if (commits.isEmpty && checkpoints.isEmpty)
      throw new EmptyLogException(tablePath)

    val maxAvailable =
      (commits.map(_._1) ++ checkpoints.keys).max
    val target = versionAsOf.getOrElse(maxAvailable)
    if (target > maxAvailable)
      throw new IllegalArgumentException(
        s"Version $target not available (latest is $maxAvailable)")

    val cpVersion = checkpoints.keys.filter(_ <= target) match {
      case vs if vs.isEmpty => None
      case vs => Some(vs.max)
    }
    val tail = commits
      .filter { case (v, _) => v <= target && cpVersion.forall(v > _) }

    // contiguity check: versions after the checkpoint must be gapless
    val expectedStart = cpVersion.map(_ + 1).getOrElse(0L)
    val versions = tail.map(_._1)
    val expected = expectedStart to target
    if (versions != expected && !(versions.isEmpty && cpVersion.contains(target))) {
      // a missing PREFIX with a later checkpoint present is the log
      // retention cleanup signature, not corruption — say so
      val hint =
        if (cpVersion.isEmpty && checkpoints.nonEmpty &&
            versions.headOption.forall(_ > 0))
          s"; versions up to ${checkpoints.keys.min - 1} were removed by " +
            "log retention cleanup (delta.logRetentionDuration) — the " +
            s"earliest reconstructable version is ${checkpoints.keys.min}"
        else ""
      throw new IllegalStateException(
        s"Gap in _delta_log: have versions $versions, expected $expected$hint")
    }

    // minor log compactions: greedily substitute <x>.<y>.compacted.json
    // files for the commit spans they cover — a tail of N commits then
    // resolves through ~N/interval files. Only spans fully inside the
    // tail qualify (a compaction straddling the checkpoint would
    // double-apply state the checkpoint already holds). Longest span
    // per start wins; uncovered versions keep their raw commits.
    val compactions = entries.flatMap { st =>
      compactedRange(st.getPath.getName).map(r => r -> st)
    // x <= y also guards the walk below against a malformed (reversed)
    // span from a foreign writer, which would otherwise loop forever
    }.filter { case ((x, y), _) =>
      x >= expectedStart && y <= target && x <= y }
    val tailFiles: Seq[FileStatus] =
      if (compactions.isEmpty || !graft.delta.log.LogCompaction.useCompacted(spark))
        tail.map(_._2)
      else {
        val byStart = compactions.groupBy(_._1._1)
          .map { case (x, g) => x -> g.maxBy(_._1._2) }
        val commitByV = tail.map { case (v, st) => v -> st }.toMap
        val out = Seq.newBuilder[FileStatus]
        var v = expectedStart
        while (v <= target) byStart.get(v) match {
          case Some(((_, y), st)) => out += st; v = y + 1
          case None => out += commitByV(v); v += 1
        }
        out.result()
      }

    LogSegment(tablePath, target, cpVersion,
      cpVersion.map(checkpoints).getOrElse(Seq.empty), tailFiles,
      checkpointIsV2 = cpVersion.exists(v2Versions.contains))
  }

  /** One action line of a log JSON file: its text as written (log
    * compaction re-emits it byte for byte) and its parsed node. */
  final case class LogLine(text: String, node: JsonNode)

  /** The action lines of a log JSON file in order, blank lines skipped:
    * the one driver-side decoder of log JSON. A commit is an immutable
    * object, so a line that is not a JSON object means a corrupt log: an
    * IllegalStateException naming the file and line (never an
    * IOException, which a caller could take for a retryable read). A
    * missing file throws `fs.open`'s FileNotFoundException; each caller
    * maps that by its own rule. */
  def readLines(fs: FileSystem, file: Path): Vector[LogLine] =
    decode(fs, file)(_.toVector)

  private def decode[A](fs: FileSystem, file: Path)(
      f: Iterator[LogLine] => A): A = {
    val in = fs.open(file)
    var lineNo = 0
    def corrupt(line: Int, why: String, cause: Throwable) =
      new IllegalStateException(
        s"Corrupt Delta log file $file: line $line $why", cause)
    try f(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map { l => lineNo += 1; l }
      .filter(!_.isBlank)
      .map { l =>
        val node = try Actions.mapper.readTree(l) catch {
          case e: com.fasterxml.jackson.core.JsonProcessingException =>
            throw corrupt(lineNo,
              s"is not valid JSON: ${e.getOriginalMessage}", e)
        }
        if (!node.isObject) throw corrupt(lineNo, "is not a JSON object", null)
        LogLine(l, node)
      })
    catch {
      case e: java.nio.charset.CharacterCodingException =>
        throw corrupt(lineNo + 1, "is not valid UTF-8", e)
    } finally in.close()
  }

  /** The `commitInfo.inCommitTimestamp` of a commit's first action line
    * (the spec puts commitInfo first when in-commit timestamps are on);
    * None when that line carries none. */
  private def ictOf(first: Option[JsonNode]): Option[Long] =
    first.flatMap(n => Option(n.get("commitInfo")))
      .flatMap(ci => Option(ci.get("inCommitTimestamp")).map(_.asLong()))

  /** The inCommitTimestamp ([[ictOf]]) of the commit file at `commit`,
    * decoding its first line only. */
  def inCommitTimestamp(fs: FileSystem, commit: Path): Option[Long] =
    decode(fs, commit)(lines => ictOf(lines.nextOption().map(_.node)))

  /** The timestamp of commit file `status` by the protocol rule: its own
    * commitInfo.inCommitTimestamp when it carries one (monotonic and
    * immune to file copies), else the file's modification time. The
    * change feed's `_commit_timestamp`, DESCRIBE HISTORY and every
    * timestamp-addressed read (TIMESTAMP AS OF, startingTimestamp/
    * endingTimestamp, RESTORE TO TIMESTAMP) resolve against this one
    * clock. */
  def commitTimestamp(fs: FileSystem, status: FileStatus): Long =
    inCommitTimestamp(fs, status.getPath).getOrElse(status.getModificationTime)

  /** [[commitTimestamp]] of a commit whose action lines are already
    * read. */
  def commitTimestamp(status: FileStatus, actions: Seq[JsonNode]): Long =
    ictOf(actions.headOption).getOrElse(status.getModificationTime)
}
