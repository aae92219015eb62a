package graft.delta.log

import org.apache.spark.sql.SparkSession

/** Row tracking (Delta writer feature `rowTracking` + its
  * `delta.rowTracking` metadata domain): every row gets a stable id.
  *
  * This engine implements FRESH row ids: each AddFile carries a
  * `baseRowId`, and row i of the file has id `baseRowId + i` (physical
  * position, so deletion-vector DML — which never moves a surviving
  * row — preserves ids for free; that is why row-tracked tables here
  * require merge-on-read for row-level changes). The next unallocated
  * id is the `rowIdHighWaterMark` in the `delta.rowTracking` domain
  * metadata, advanced in the SAME commit as the adds it covers.
  * `defaultRowCommitVersion` records the commit that created each file
  * so readers can attribute rows to versions without replaying history.
  *
  * Allocation is shuffle-free and driver-light: ids are handed out
  * per-file from the files' own stats row counts (already computed for
  * the commit JSON), the same pattern as identity-column allocation.
  */
object RowTracking {
  final val PropKey = "delta.enableRowTracking"
  final val Domain = "delta.rowTracking"

  import Actions.mapper

  def enabled(meta: Actions.Metadata): Boolean =
    meta.configuration.get(PropKey).exists(_.equalsIgnoreCase("true"))

  /** Next unallocated row id (0 when the domain is absent). Resolved
    * driver-side from the commit tail (zero Spark jobs in the common
    * case — this sits on every row-tracked commit attempt). */
  def highWaterMark(spark: SparkSession, segment: LogSegment): Long =
    Replay.domainMetadataFor(spark, segment, Domain)
      .flatMap(d => Option(mapper.readTree(d.configuration)
        .get("rowIdHighWaterMark")).map(_.asLong() + 1))
      .getOrElse(0L)

  /** The domain action recording the highest allocated id. */
  def domainJson(highWaterMark: Long): String = {
    val conf = mapper.createObjectNode()
    conf.put("rowIdHighWaterMark", highWaterMark)
    CommitWriter.domainMetadataJson(
      Actions.DomainMetadata(Domain, conf.toString))
  }

  private def numRecords(a: Actions.AddFile): Long =
    Actions.numRecords(a.stats).getOrElse(throw new IllegalStateException(
      s"row tracking requires numRecords stats on every add " +
        s"('${a.path}' has none) — ids are allocated from file row " +
        "counts"))

  /** Assign fresh base row ids to `adds` starting at `firstId`, stamped
    * with `commitVersion`; returns the stamped adds and the domain
    * action carrying the advanced high-water mark (the id of the LAST
    * allocated row). Deterministic: files are numbered in path order. */
  def stamp(adds: Seq[Actions.AddFile], firstId: Long,
      commitVersion: Long): (Seq[Actions.AddFile], String) = {
    var next = firstId
    val stamped = adds.sortBy(_.path).map { a =>
      val base = next
      next += numRecords(a)
      a.copy(baseRowId = Some(base),
        defaultRowCommitVersion = Some(commitVersion))
    }
    require(next > firstId || adds.isEmpty,
      "row tracking: empty adds allocated no ids")
    (stamped, domainJson(math.max(firstId, next - 1)))
  }

  /** The add actions for `adds` committed on top of `parent`: on a
    * row-tracked table the new rows get fresh ids from the parent's
    * high-water mark, stamped with the version the commit lands at
    * (`parent.version + 1`), plus the domain action advancing the mark.
    * The commit loop hands every attempt its own parent, so a rebase
    * over a winner that allocated ids (the conflict rules let appends
    * and partition-disjoint DML rebase over data winners) allocates
    * past the winner instead of duplicating its ids. Ids live only in
    * the commit JSON, never in the data files, so re-stamping is always
    * safe. */
  def addActions(spark: SparkSession, meta: Actions.Metadata,
      adds: Seq[Actions.AddFile], parent: LogSegment): Seq[String] =
    if (!enabled(meta) || adds.isEmpty) adds.map(CommitWriter.addJson)
    else {
      val (stamped, domain) =
        stamp(adds, highWaterMark(spark, parent), parent.version + 1)
      domain +: stamped.map(CommitWriter.addJson)
    }
}
