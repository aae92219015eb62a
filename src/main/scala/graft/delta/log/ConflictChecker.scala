package graft.delta.log

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Optimistic-concurrency conflict detection for lost commit races.
  *
  * A writer that loses the race for version v re-reads the commits that
  * beat it (the "winners"), classifies what they did, and either
  * REBASES — re-attempts the same actions at the new tip — or fails with
  * a typed conflict naming exactly what clashed. The rules are the
  * standard lakehouse optimistic-concurrency semantics (delta-io
  * PROTOCOL.md's action reconciliation model; the reference engine is
  * read-only and never faces them):
  *
  *  - a protocol or metadata change by anyone conflicts with everyone —
  *    the loser validated its write against the OLD table contract
  *    (schema, constraints, feature gates), so its staged actions may
  *    violate the new one;
  *  - two writers removing the same file conflict (delete/delete): the
  *    loser's remove+add swap would resurrect rows the winner deleted,
  *    or double-logically-delete a file whose replacement already holds
  *    the winner's rewrite;
  *  - a winner removing a file the loser's outcome DEPENDS on conflicts
  *    (delete/read): the loser computed its writes from row content
  *    that is no longer current;
  *  - data ADDED by a winner conflicts only with transactions whose
  *    outcome depends on rows they did not scan (DML/MERGE under
  *    serializability) — and then only when the new file could actually
  *    hold matching rows, decided by evaluating the loser's predicate
  *    over the add's partition values with nulls for the non-partition
  *    columns: under SQL three-valued logic a definitively-FALSE verdict
  *    proves no row in the file can match (safe to rebase), while TRUE
  *    or UNKNOWN conflicts. Blind appends and dataChange=false
  *    rearrangements (OPTIMIZE) never trip this rule.
  *
  * Partition-disjoint writers therefore never conflict: a DELETE on
  * `p = 1` rebases freely over appends and compactions of every other
  * partition — the property that lets many jobs maintain one 100 TB
  * table concurrently. Winner commits are read driver-side (each commit
  * JSON is bounded by what its writer could stage, the same bound as
  * writing it), typically a window of one or two commits.
  */
object ConflictChecker {
  import CommitWriter.ConcurrentCommitException

  /** Winner changed protocol: the loser's feature-gate validation is stale. */
  class ProtocolChangedException(msg: String, cause: Throwable)
    extends ConcurrentCommitException(msg, cause)

  /** Winner changed metadata (schema/partitioning/properties): the
    * loser's staged files honor a contract that no longer holds. */
  class MetadataChangedException(msg: String, cause: Throwable)
    extends ConcurrentCommitException(msg, cause)

  /** Winner added data files that may hold rows matching the loser's
    * predicate — a scan-dependent transaction must re-run to see them. */
  class ConcurrentAppendException(msg: String, cause: Throwable)
    extends ConcurrentCommitException(msg, cause)

  /** Winner removed a file the loser's outcome was computed from. */
  class ConcurrentDeleteReadException(msg: String, cause: Throwable)
    extends ConcurrentCommitException(msg, cause)

  /** Winner removed a file the loser also removes. */
  class ConcurrentDeleteDeleteException(msg: String, cause: Throwable)
    extends ConcurrentCommitException(msg, cause)

  /** One data file added by a winner commit. */
  final case class WinnerAdd(path: String,
      partitionValues: Map[String, String], dataChange: Boolean)

  /** What the winning commits did, classified for the conflict rules. */
  final case class WinnerSummary(
      fromVersion: Long, toVersion: Long,
      protocolChanged: Boolean, metadataChanged: Boolean,
      adds: Seq[WinnerAdd], removedPaths: Set[String],
      operations: Seq[String])

  /** What the LOSING transaction read and writes — its conflict surface.
    *
    * @param readPaths    log-relative paths whose row content the
    *                     transaction's outcome depends on (the files a
    *                     DML scanned and decided to touch)
    * @param removePaths  log-relative paths the staged commit removes
    *                     (including DV remove+add swaps)
    * @param dependsOnNewData whether rows appended concurrently could
    *                     change the outcome: true for predicate/join
    *                     driven DML and MERGE, false for blind appends
    *                     and dataChange=false compaction
    * @param predicate    the transaction's row predicate, used to prune
    *                     winner adds by partition values; None = every
    *                     winner data add conflicts (when dependsOnNewData)
    * @param schema       full table schema (for predicate evaluation)
    * @param partitionColumns the table's partition columns */
  final case class TxnProfile(
      readPaths: Set[String] = Set.empty,
      removePaths: Set[String] = Set.empty,
      dependsOnNewData: Boolean = false,
      predicate: Option[Column] = None,
      schema: StructType = new StructType(),
      partitionColumns: Seq[String] = Seq.empty,
      // a whole-table transaction (RESTORE) reads every live file: ANY
      // winner remove conflicts, without materializing the O(files)
      // inventory into readPaths on the driver
      readsWholeTable: Boolean = false)

  /** Read and classify the commits `fromVersion..toVersion` (inclusive)
    * that beat the losing writer. */
  def winners(spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Long): WinnerSummary = {
    val table = new Path(tablePath)
    val fs = LogSegment.fs(spark, table)
    val logPath = new Path(table, "_delta_log")
    var protocolChanged = false
    var metadataChanged = false
    val adds = Seq.newBuilder[WinnerAdd]
    val removed = Set.newBuilder[String]
    val ops = Seq.newBuilder[String]
    for (v <- fromVersion to toVersion) {
      // a line that does not parse is corruption (IllegalStateException),
      // not a lost race to retry
      val nodes =
        try LogSegment.readLines(fs,
          new Path(logPath, LogSegment.commitFileName(v))).map(_.node)
        catch {
          case e: java.io.IOException =>
            throw new ConcurrentCommitException(
              s"lost the commit race for $tablePath to version $v but its " +
                "commit file cannot be read to classify the conflict — " +
                "re-run the transaction against the current snapshot", e)
        }
      for (node <- nodes) {
        if (node.has("protocol")) protocolChanged = true
        if (node.has("metaData")) metadataChanged = true
        Option(node.get("commitInfo")).flatMap(ci =>
          Option(ci.get("operation"))).foreach(o => ops += o.asText())
        Option(node.get("add")).foreach { a =>
          // null-partition-value handling shared with replay so the
          // pruning here can never disagree with the scan
          adds += WinnerAdd(a.get("path").asText(),
            Replay.partitionValuesOf(a),
            Actions.dataChange(a))
        }
        Option(node.get("remove")).foreach(r => removed += r.get("path").asText())
      }
    }
    WinnerSummary(fromVersion, toVersion, protocolChanged, metadataChanged,
      adds.result(), removed.result(), ops.result())
  }

  /** Apply the conflict rules; returns normally iff the losing commit is
    * safe to rebase onto `summary.toVersion` unchanged. */
  def check(spark: SparkSession, tablePath: String, summary: WinnerSummary,
      profile: TxnProfile, cause: Throwable): Unit = {
    val span =
      (if (summary.fromVersion == summary.toVersion)
        s"commit ${summary.fromVersion}"
      else s"commits ${summary.fromVersion}-${summary.toVersion}") +
        summary.operations.distinct.mkString(" (", ", ", ")")
    if (summary.protocolChanged)
      throw new ProtocolChangedException(
        s"concurrent $span changed the protocol of $tablePath — this " +
          "transaction validated against the old protocol; re-run it " +
          "against the new snapshot", cause)
    if (summary.metadataChanged)
      throw new MetadataChangedException(
        s"concurrent $span changed the metadata of $tablePath (schema, " +
          "partitioning, or table properties) — this transaction's staged " +
          "files honor the old contract; re-run it against the new snapshot",
        cause)
    val delDel = summary.removedPaths.intersect(profile.removePaths)
    if (delDel.nonEmpty)
      throw new ConcurrentDeleteDeleteException(
        s"concurrent $span removed ${delDel.size} file(s) this transaction " +
          s"also removes (e.g. '${delDel.head}') from $tablePath — " +
          "re-run it against the new snapshot", cause)
    val delRead =
      if (profile.readsWholeTable) summary.removedPaths
      else summary.removedPaths.intersect(profile.readPaths)
    if (delRead.nonEmpty)
      throw new ConcurrentDeleteReadException(
        s"concurrent $span removed ${delRead.size} file(s) this " +
          s"transaction's outcome was computed from (e.g. '${delRead.head}') " +
          s"in $tablePath — re-run it against the new snapshot", cause)
    if (profile.dependsOnNewData) {
      val hot = addsPossiblyMatching(spark, summary.adds, profile)
      if (hot.nonEmpty)
        throw new ConcurrentAppendException(
          s"concurrent $span added ${hot.size} data file(s) that may hold " +
            s"rows matching this transaction's predicate (e.g. " +
            s"'${hot.head.path}') in $tablePath — re-run it against the " +
            "new snapshot", cause)
    }
  }

  /** Winner data adds that could hold rows matching the profile's
    * predicate. A file is provably irrelevant only when the predicate
    * evaluates to definitively FALSE over its partition values (nulls
    * standing in for the non-partition columns); evaluation failures
    * keep every add — conservative in all directions. */
  private def addsPossiblyMatching(spark: SparkSession,
      adds: Seq[WinnerAdd], profile: TxnProfile): Seq[WinnerAdd] = {
    val dataAdds = adds.filter(_.dataChange)
    if (dataAdds.isEmpty) return Seq.empty
    if (profile.predicate.isEmpty || profile.partitionColumns.isEmpty ||
        profile.schema.isEmpty) return dataAdds
    try {
      val partSet = profile.partitionColumns.map(_.toLowerCase).toSet
      val fields = profile.schema.fields.toIndexedSeq
      val rows: java.util.List[Row] = dataAdds.zipWithIndex.map {
        case (a, i) => Row.fromSeq(i.toLong +: fields.map { f =>
          if (partSet(f.name.toLowerCase)) a.partitionValues.get(f.name).orNull
          else null
        })
      }.asJava
      val strSchema = StructType(StructField("__idx", LongType) +:
        fields.map(f => StructField(f.name, StringType, nullable = true)))
      val typed = spark.createDataFrame(rows, strSchema).select(
        col("__idx") +: fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*)
      val surviving = typed
        .where(coalesce(profile.predicate.get, lit(true)))
        .select("__idx").collect().map(_.getLong(0)).toSet
      dataAdds.zipWithIndex.collect {
        case (a, i) if surviving(i.toLong) => a
      }
    } catch {
      case scala.util.control.NonFatal(_) => dataAdds
    }
  }
}
