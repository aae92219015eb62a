package graft.delta.log

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Minor log compaction: `<x>.<y>.compacted.json` files holding the
  * action reconciliation of commit versions x..y (Delta protocol "Log
  * Compaction Files" — delta-io PROTOCOL.md; the same reconciliation
  * rules checkpoints use, scoped to a commit range).
  *
  * Why it matters at 100 TB: between checkpoints a snapshot resolve
  * reads every JSON commit in the tail — under streaming ingest that
  * is up to `delta.checkpointInterval` small sequential reads per
  * resolve, on every executor-driving planner in the fleet. A
  * compaction collapses a covered span into ONE file; the read side
  * ([[LogSegment.forTable]]) substitutes it greedily, so a tail of N
  * commits resolves through ~N/interval files. Individual commits stay
  * authoritative and untouched — compactions are redundant artifacts
  * (DESCRIBE HISTORY, CDF, and conflict checking keep reading the raw
  * commits), deleted by the same retention sweep once their whole span
  * expires.
  *
  * The reference's engine delegates log bootstrap to delta-kernel,
  * which reads these files when present
  * (kernel's LogSegment lists `_delta_log` for compaction artifacts);
  * the write side here follows the spec's naming + reconciliation.
  */
object LogCompaction {
  /** Opt-in table property: write a compaction every N commits — the
    * span [v-N+1, v] after committing version v when v is a multiple
    * of N. Spans thus START at multiples-of-N-plus-one, which is
    * exactly where the replay tail starts (cp+1) whenever
    * `delta.checkpointInterval` is a multiple of N — the common
    * "compact every 10, checkpoint every 100" layering keeps every
    * span substitutable. Engine-specific knob (the protocol defines
    * the artifact, not the cadence). */
  final val IntervalPropKey = "graft.logCompaction.interval"

  /** Session escape hatch for the READ side (default on): substitute
    * compacted files into the replay tail when they cover it. */
  final val UseCompactedConfKey = "spark.lakehouse.useCompactedLogs"

  def intervalFrom(cfg: Map[String, String]): Int =
    cfg.get(IntervalPropKey)
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ > 0).getOrElse(0)

  /** Write `_delta_log/<start>.<end>.compacted.json` reconciling the
    * commits of [start, end] (all must exist). Idempotent: a file
    * already present for the exact span is left alone (compactions of
    * the same span are content-equivalent by construction — the inputs
    * are immutable commits). Returns true when a file was written.
    *
    * Reconciliation (per checkpoint rules, scoped to the span): latest
    * metaData and protocol win; per-path latest file action wins with
    * remove tombstones RETAINED (a pre-span checkpoint may still carry
    * the file as live); within one commit re-adds supersede removes;
    * latest txn per appId and latest domainMetadata per domain are
    * kept (removal tombstones included — they must override pre-span
    * state); commitInfo and cdc rows are per-commit payload, not
    * replay state, and are dropped. Winning action lines are copied
    * VERBATIM so stats, DV descriptors, row-tracking fields, and
    * unknown tags survive bit-exact.
    *
    * Driver-side by design: a span is at most the compaction interval
    * (bounded small files), the same order of work as the commit-tail
    * replay every resolve already does. */
  def compactLog(spark: SparkSession, tablePath: String,
      start: Long, end: Long): Boolean = {
    require(start >= 0 && start <= end,
      s"invalid compaction span [$start, $end]")
    val table = new Path(tablePath)
    val fs = LogSegment.fs(spark, table)
    val logPath = new Path(table, "_delta_log")
    val target = new Path(logPath,
      LogSegment.compactedFileName(start, end))
    if (fs.exists(target)) return false

    var meta: Option[String] = None
    var proto: Option[String] = None
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val domains = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val files = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (v <- start to end) {
      val parsed = try LogSegment.readLines(fs,
        new Path(logPath, LogSegment.commitFileName(v)))
        .map(l => (l.text, l.node))
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalStateException(s"cannot compact [$start, $end] " +
            s"of $tablePath: commit $v is missing")
      }
      // removes first, adds second: a same-commit re-add supersedes the
      // remove (the replay rule reconciliation must preserve)
      for ((line, n) <- parsed if n.has("remove")) {
        val path = n.get("remove").get("path").asText()
        files.remove(path)
        files.put(path, line)
      }
      for ((line, n) <- parsed if n.has("add")) {
        val path = n.get("add").get("path").asText()
        files.remove(path)
        files.put(path, line)
      }
      for ((line, n) <- parsed) {
        if (n.has("metaData")) meta = Some(line)
        if (n.has("protocol")) proto = Some(line)
        if (n.has("txn")) txns.put(n.get("txn").get("appId").asText(), line)
        if (n.has("domainMetadata"))
          domains.put(n.get("domainMetadata").get("domain").asText(), line)
      }
    }
    val out = (proto.toSeq ++ meta.toSeq ++ txns.values ++ domains.values ++
      files.values)
    val payload = out.mkString("", "\n", "\n").getBytes("UTF-8")

    // atomic publish (the commits' put-if-absent): readers never
    // observe a partial compaction, and a racing compactor of the same
    // span finds it already there (the artifact is content-identical)
    CommitWriter.putIfAbsent(fs, target, payload)
  }

  /** Post-commit hook: when the table opts in via
    * [[IntervalPropKey]] = N and `version` closes an N-aligned span,
    * compact it. The commit already landed — failures are logged and
    * swallowed (maintenance, never correctness). The caller skips the
    * call entirely when this version also auto-checkpointed (the
    * checkpoint already collapsed the whole tail — a span ending at a
    * checkpoint version could never be substituted). */
  private[log] def maybeCompact(spark: SparkSession, tablePath: String,
      version: Long, interval: Int): Unit =
    if (interval > 0 && version >= interval && version % interval == 0) {
      try compactLog(spark, tablePath, version - interval + 1, version)
      catch {
        case scala.util.control.NonFatal(e) =>
          CommitWriter.maintenanceFailed("log compaction", tablePath,
            version, e)
      }
    }

  /** Read-side master switch (default on). */
  def useCompacted(spark: SparkSession): Boolean =
    spark.conf.getOption(UseCompactedConfKey).forall(_.trim.toBoolean)
}
