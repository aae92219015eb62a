package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.delta.IndexStore
import graft.delta.IndexStore.{CentroidRel, CountRel, DataRel, PcidCol, RelCol}

/** Drift policy for an incrementally-maintained IVF index, over the
  * Delta-backed index table ([[graft.delta.IndexStore]]).
  *
  * Incremental appends assign new vectors to EXISTING centroids, so the
  * centroid set slowly stops describing the data it routes: recall
  * decays as the appended fraction grows, and hot partitions stop
  * pruning. This module is the documented re-train trigger the index
  * needs at 100 TB:
  *
  *  - every build/append records per-cid row counters as `rel=count`
  *    ledger rows IN the index table — an append lands its data rows
  *    and its counter rows in ONE commit, so the counters can never
  *    drift from the rows they count;
  *  - [[driftReport]] computes the appended/base ratio and the
  *    partition-size skew from the counter ledger alone — zero data IO;
  *  - the trigger fires PER CID: any centroid whose own
  *    `appended/base > ratioThreshold` (default 0.2) — a single hot
  *    centroid in a 10k-centroid index never moves the global fraction,
  *    yet its partition is exactly the one whose routing vector stopped
  *    describing its contents. Partition-size skew (`max partition rows
  *    > skewThreshold × avg`, default 4.0) is REPORT-ONLY
  *    (`skewAlert`/`skewCids`): re-centering cannot shrink an oversized
  *    partition — the remedy is [[splitCell]];
  *  - [[maybeRetrain]] then RE-CENTERS only the touched centroids: each
  *    becomes the per-dimension mean of its partition's CURRENT rows —
  *    one aggregation over the touched partitions only — and ONE commit
  *    replaces the centroid + counter relations together (only the
  *    touched cids' appended counters fold into base, so an untouched
  *    cid keeps accumulating toward its OWN future trigger).
  *
  * Durability and isolation come from the table's commit log, not from
  * bespoke recovery code: a crash at any point leaves the previous
  * snapshot live (there is no partial state to heal), concurrent
  * probes read one snapshot throughout any maintenance op, and the
  * maintenance history is time-travelable. (This replaced the previous
  * sibling-swap/`_split_pending`-marker protocol, whose cross-directory
  * crash windows needed hand-rolled roll-forward logic and could not
  * port to object stores with no atomic rename.) In-process callers
  * still serialize on one lock — maintenance ops are read-modify-write
  * over the counter ledger; cross-process writers are fenced by the
  * commit protocol's conflict check instead.
  *
  * A full re-cluster (new centroid COUNT everywhere, rows reshuffled)
  * remains the offline escape hatch when re-centering stops recovering
  * recall — that is a rebuild, not maintenance.
  *
  * The complete drift→remedy table this module owns: centroid drift →
  * [[maybeRetrain]] (re-center), skew → [[maybeSplit]]/[[splitCell]],
  * file fragmentation → [[maybeCompactData]], super-level drift (two-
  * level tables) → [[retrainSupers]]; PQ codebook drift lives in
  * [[PqMaintenance]]. Each remedy is one atomic commit, each trigger
  * is metadata-only until it fires.
  */
object IvfMaintenance {

  final val DefaultRatioThreshold = 0.2
  final val DefaultSkewThreshold = 4.0

  case class DriftReport(
      baseRows: Long,
      appendedRows: Long,
      ratio: Double,
      skew: Double,
      touched: Seq[Long],
      retrain: Boolean,
      skewAlert: Boolean = false,
      skewCids: Seq[Long] = Nil)

  /** Per-cid counter state: base rows and appended rows, folded from
    * the ledger (O(centroids + appends-since-fold) rows — metadata-
    * bounded, the same driver-size class as a probe's cid list). */
  private def loadState(s: SparkSession,
      indexPath: String): Map[Long, (Long, Long)] = {
    val rows = IndexStore.countsAt(s, indexPath).collect()
    require(rows.nonEmpty, s"no counter ledger in the index table at " +
      s"$indexPath — recordBase must run at index build")
    rows.groupBy(_.getLong(1)).map { case (cid, rs) =>
      val base = rs.filter(_.getString(0) == "base").map(_.getLong(2)).sum
      val app = rs.filter(_.getString(0) == "append").map(_.getLong(2)).sum
      cid -> (base, app)
    }
  }

  /** In-process serialization: maintenance ops are read-modify-write
    * over the ledger; two interleaved folds would lose counts. Cross-
    * process races are fenced by the commit-level conflict checker
    * (a lost race fails loudly; re-run against the new snapshot). */
  private val opLock = new Object

  private def countRows(s: SparkSession, kind: String,
      counts: DataFrame): DataFrame =
    counts.select(lit(kind).as("kind"), col("cid").cast("long").as("cid"),
      col("rows").cast("long").as("rows"))

  /** Centroid rows WITH their optional super-cell routing column:
    * (cid, cv, scid?). Every maintenance op that rewrites the centroid
    * relation must read through this and carry scid into its patch — a
    * (cid, cv)-only replace on a TWO-LEVEL table would null-complete
    * the routing column (the conform rule) and silently unroute every
    * probe's stage-2. Flat tables have no scid column and round-trip
    * a 2-column patch unchanged. */
  private def centroidRowsWithRouting(spark: SparkSession,
      indexPath: String): (Seq[(Long, Seq[Double], Option[Long])],
      Boolean) = {
    val base =
      if (IndexStore.isDeltaTable(indexPath))
        IndexStore.rel(spark, indexPath, CentroidRel)
      else IndexStore.centroidsAt(spark, indexPath)
    val hasScid = base.columns.contains("scid")
    val sel =
      if (hasScid) base.select(col("cid").cast("long"), col("cv"),
        col("scid").cast("long"))
      else base.select(col("cid").cast("long"), col("cv"))
    val rows = sel.collect().toSeq.map { r =>
      (r.getLong(0), r.getSeq[Double](1),
        if (hasScid && !r.isNullAt(2)) Some(r.getLong(2)) else None)
    }
    (rows, hasScid)
  }

  /** The centroid-relation patch frame, routing-preserving: 3 columns
    * for a two-level table, 2 for a flat one (a stray scid on a flat
    * table would fail conform — correctly). */
  private def centroidPatch(spark: SparkSession,
      rows: Seq[(Long, Seq[Double], Option[Long])],
      hasScid: Boolean): DataFrame = {
    import spark.implicits._
    if (hasScid) rows.toDF("cid", "cv", "scid")
    else rows.map(t => (t._1, t._2)).toDF("cid", "cv")
  }

  /** Record the base build's per-cid row counts (schema: cid, rows) —
    * replaces any prior ledger: a fresh build starts undrifted.
    * Fixture builders normally fold these rows into the CREATE commit
    * itself (IndexStore.create with a CountRel part); this entry point
    * serves tables built without one. */
  def recordBase(spark: SparkSession, indexPath: String,
      counts: DataFrame): Unit = opLock.synchronized {
    IndexStore.replace(spark, indexPath,
      Seq(CountRel -> countRows(spark, "base", counts)),
      col(RelCol) === CountRel)
  }

  /** Record one incremental append's per-cid row counts as ledger
    * rows. Batch ingest should prefer [[appendBatch]], which lands the
    * data rows and these counter rows in one commit. */
  def recordAppend(spark: SparkSession, indexPath: String,
      counts: DataFrame): Unit = opLock.synchronized {
    IndexStore.append(spark, indexPath,
      Seq(CountRel -> countRows(spark, "append", counts)))
    maybeCompactLedger(spark, indexPath)
  }

  /** The ingest primitive: ONE commit carrying an arriving batch's
    * assigned data rows AND their per-cid counter rows — the counters
    * cannot drift from the rows they count, and a crash mid-ingest
    * leaves neither. `vecs` must carry (vec_id, label?, embedding,
    * cid). */
  def appendBatch(spark: SparkSession, indexPath: String,
      vecs: DataFrame, counts: DataFrame): Unit = opLock.synchronized {
    IndexStore.append(spark, indexPath, Seq(
      DataRel -> vecs,
      CountRel -> countRows(spark, "append", counts)))
    maybeCompactLedger(spark, indexPath)
  }

  /** Ledger rows per cid beyond which the append path compacts. */
  private[graft] val LedgerCompactFactor = 4

  /** Opportunistic ledger compaction: below-threshold steady ingest
    * appends counter rows every batch but folds only when a retrain
    * FIRES — without this, the ledger (and loadState's per-op collect)
    * would grow without bound. When the ledger holds more than
    * LedgerCompactFactor rows per live cid, rewrite it as one
    * aggregated (kind, cid, rows) row set — PURE compaction: base and
    * append sums are preserved per cid (never folded into each other),
    * so every drift ratio is bit-identical before and after. Its own
    * atomic replace commit (the preceding append already landed;
    * a crash between them re-compacts on the next append). */
  private def maybeCompactLedger(spark: SparkSession,
      indexPath: String): Unit = {
    val rows = IndexStore.countsAt(spark, indexPath).collect()
    val cids = rows.map(_.getLong(1)).distinct.length
    if (rows.length <= LedgerCompactFactor * math.max(cids, 1)) return
    import spark.implicits._
    val compacted = rows.toSeq
      .groupBy(r => (r.getString(0), r.getLong(1)))
      .map { case ((kind, cid), rs) => (kind, cid, rs.map(_.getLong(2)).sum) }
      .toSeq
    IndexStore.replace(spark, indexPath,
      Seq(CountRel -> compacted.toDF("kind", "cid", "rows")),
      col(RelCol) === CountRel)
  }

  private def report(state: Map[Long, (Long, Long)], ratioThreshold: Double,
      skewThreshold: Double): DriftReport = {
    val merged = state.toSeq.map { case (cid, (b, a)) => (cid, b, a) }
    val baseTotal = merged.map(_._2).sum
    val appTotal = merged.map(_._3).sum
    val ratio = if (baseTotal == 0) Double.PositiveInfinity
      else appTotal.toDouble / baseTotal
    val totals = merged.map(t => t._2 + t._3)
    val avg = if (merged.isEmpty) 0.0 else totals.sum.toDouble / merged.length
    val skew = if (avg == 0.0) 0.0 else totals.max / avg
    val skewFired = skew > skewThreshold
    // skew is REPORT-ONLY: re-centering cannot fix an oversized
    // partition (the fold leaves every partition's total — and thus the
    // skew — unchanged, so a skew-driven retrain would re-fire forever
    // while re-writing an identical centroid set). A partition that
    // dwarfs the average needs the splitCell escape hatch — surfaced as
    // skewAlert/skewCids for the operator that owns that call.
    val skewCids = if (skewFired && avg > 0) merged.collect {
      case (cid, b, a) if (b + a) > skewThreshold * avg => cid
    }.sorted else Nil
    val touched = merged.collect {
      case (cid, b, a)
        if (b > 0 && a.toDouble / b > ratioThreshold) ||
          (b == 0 && a > 0) => cid
    }.sorted
    DriftReport(baseTotal, appTotal, ratio, skew, touched,
      retrain = touched.nonEmpty,
      skewAlert = skewFired, skewCids = skewCids)
  }

  /** Compute drift from the counter ledger alone — no data IO. */
  def driftReport(spark: SparkSession, indexPath: String,
      ratioThreshold: Double = DefaultRatioThreshold,
      skewThreshold: Double = DefaultSkewThreshold): DriftReport =
    opLock.synchronized {
      report(loadState(spark, indexPath), ratioThreshold, skewThreshold)
    }

  /** Per-dimension means of the given cids' current partitions — the
    * re-center rule (one aggregation, statically pruned to those
    * partitions). */
  private def partitionMeans(spark: SparkSession, indexPath: String,
      cids: Seq[Long], dim: Int): Map[Long, Seq[Double]] =
    IndexStore.data(spark, indexPath, Some(cids))
      .groupBy("cid")
      .agg(array((1 to dim).map(i =>
        avg(element_at(col("embedding"), i).cast(DoubleType))): _*).as("cv"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .toMap

  /** Evaluate the trigger and, when it fires, re-center the touched
    * centroids from their partitions' current rows. The patched
    * centroid relation and the folded counters land in ONE commit; a
    * skew-only alert commits NOTHING (the snapshot version does not
    * move — the "never re-arms by rewriting identical files" rule is
    * structural now). Returns the report that drove the decision. */
  def maybeRetrain(spark: SparkSession, indexPath: String, dim: Int,
      ratioThreshold: Double = DefaultRatioThreshold,
      skewThreshold: Double = DefaultSkewThreshold): DriftReport =
      opLock.synchronized {
    val state = loadState(spark, indexPath)
    val rep = report(state, ratioThreshold, skewThreshold)
    if (!rep.retrain) return rep
    val touched = rep.touched
    val recentered = partitionMeans(spark, indexPath, touched, dim)
    // two-level tables: the scid routing rides through the re-center
    // untouched (a moved centroid may drift slightly relative to its
    // super — w>1 probing absorbs that; re-training the super level is
    // the offline remedy, same contract as centroid drift itself)
    val (old, hasScid) = centroidRowsWithRouting(spark, indexPath)
    val patched = old.map { case (cid, cv, scid) =>
      (cid, recentered.getOrElse(cid, cv), scid)
    }
    // fold ONLY the touched cids' appends into base; untouched cids
    // keep their append history (it counts toward their own trigger)
    val touchedSet = touched.toSet
    val folded = state.toSeq.flatMap { case (cid, (b, a)) =>
      if (touchedSet(cid)) Seq(("base", cid, b + a))
      else Seq(("base", cid, b)) ++
        (if (a > 0) Seq(("append", cid, a)) else Nil)
    }
    import spark.implicits._
    IndexStore.replace(spark, indexPath, Seq(
      CentroidRel -> centroidPatch(spark, patched, hasScid),
      CountRel -> folded.toDF("kind", "cid", "rows")),
      col(RelCol).isInCollection(Seq(CentroidRel, CountRel)))
    rep
  }

  /** Re-train the SUPER level of a two-level index from the CURRENT
    * centroid set — the remedy when maintenance has re-centered and
    * split enough centroids that the frozen super routing stops
    * describing them (the same drift→remedy contract as every other
    * signal: centroid drift → re-center, codebook drift → retrain,
    * skew → split, super drift → THIS). O(nlist) work — it k-means the
    * centroid relation, never the corpus — and ONE commit replaces the
    * super-centroid relation and every centroid row's scid together,
    * so the two sides of the routing can never version apart. Probes
    * resolved before the commit keep the old coherent routing
    * (snapshot isolation); the next ingest trigger re-reads and routes
    * through the new hierarchy. Returns the new super count. */
  def retrainSupers(spark: SparkSession, indexPath: String, dim: Int,
      k1: Option[Int] = None): Int = opLock.synchronized {
    // the centroid relation stays DISTRIBUTED throughout: at
    // production nlist (1e5-1e6 × dim 512) it is hundreds of MB-GB —
    // a driver collect here would be the exact heap shape the
    // centroid-broadcast gate exists to prevent. trainSuperCentroids
    // broadcasts only the k1 ≈ √nlist super rows; nlist comes from
    // log stats (zero data IO).
    val base = IndexStore.rel(spark, indexPath, CentroidRel)
    require(base.columns.contains("scid"),
      s"$indexPath is not a two-level index (no scid routing column)")
    val cents = base.select(col("cid").cast("long").as("cid"), col("cv"))
    val nlist = IndexStore.relRowCount(spark, indexPath, CentroidRel)
      .getOrElse(cents.count())
    val k = k1.getOrElse(math.ceil(math.sqrt(nlist.toDouble)).toInt)
    val (sup, routed) = graft.queries.SimilarityQueries
      .trainSuperCentroids(cents, k, dim)
    IndexStore.replace(spark, indexPath, Seq(
      IndexStore.SuperCentroidRel ->
        sup.select(col("scid").as("cid"), col("cv")),
      CentroidRel -> routed.select("cid", "cv", "scid")),
      col(RelCol).isInCollection(
        Seq(IndexStore.SuperCentroidRel, CentroidRel)))
    sup.count().toInt
  }

  /** File-growth policy for the data rel's cid partitions: a cell
    * holding more than `maxFiles` files under `targetFileSize` compacts.
    * The default tolerates a handful of micro-batch appends per cell
    * between passes without ever rewriting a partition that one big
    * build wrote well. */
  final case class CompactPolicy(maxFiles: Int = 8,
      targetFileSize: Long =
        graft.commands.OptimizeCommand.DefaultTargetFileSize) {
    require(maxFiles >= 2 && targetFileSize >= 1,
      s"degenerate policy: $this")
  }

  /** The small-file remedy for a STREAMED index: every micro-batch
    * append lands one parquet file per touched cid partition, so a
    * long-running ingest turns each cell into thousands of tiny files
    * — at 100 TB that is the dominant scan-cost pathology (open/seek
    * per file swamps the sequential read) and it grows without bound
    * unless the maintenance loop owns it, the way it owns drift
    * ([[maybeRetrain]]) and skew ([[maybeSplit]]). Qualification is
    * metadata-only — small-file counts per cell come from the commit
    * log's file inventory (size + partitionValues), zero data IO, so
    * the steady-state pass costs one log aggregation and commits
    * NOTHING (the version does not move). When cells qualify, ONE
    * partition-scoped OPTIMIZE rewrites exactly those partitions:
    * `dataChange=false` (readers see identical rows; history stays
    * time-travelable), and compaction REBASES freely over racing
    * appends to other cells — background compaction never blocks
    * ingest (the OptimizeCommand conflict profile). Metadata relations
    * never qualify: the ledger has its own pure-row compaction
    * ([[maybeCompactLedger]]) and centroid/codebook rewrites are
    * already whole-relation replaces.
    *
    * Returns the compacted cids (empty in the steady state). */
  def maybeCompactData(spark: SparkSession, indexPath: String,
      policy: CompactPolicy = CompactPolicy()): Seq[Long] =
      opLock.synchronized {
    val snap = graft.delta.DeltaTable.forPath(spark, indexPath)
    val fat = snap.allFiles
      .where(element_at(col("partitionValues"), RelCol) === DataRel &&
        col("size") < policy.targetFileSize)
      .groupBy(element_at(col("partitionValues"), PcidCol)
        .cast("long").as("pcid"))
      .agg(count(lit(1)).as("files"))
      .where(col("files") > policy.maxFiles)
      .collect().map(_.getLong(0)).sorted.toSeq
    if (fat.isEmpty) return Nil
    graft.commands.OptimizeCommand.optimize(spark, indexPath,
      targetFileSize = policy.targetFileSize,
      where = Some(col(RelCol) === DataRel &&
        col(PcidCol).isInCollection(fat)),
      snapOpt = Some(snap))
    fat
  }

  /** When to split a fat cell automatically: a cell whose occupancy
    * exceeds `budget` — the probe-side RERANK budget (`cand`) — stops
    * holding recall, because ADC ranking error is absorbed only by the
    * exact rerank and the rerank sees `cand` rows per probe: once one
    * cell holds more near-neighbors than cand, the pool truncates
    * before the rerank (SCALE.md, "Round-15: residual IVFADC": recall
    * dies exactly when occupancy >> cand). That makes occupancy-vs-budget
    * the principled auto-split trigger — the bare max/avg skew ratio
    * alerts (it is shape information) but a uniformly-grown index with
    * every cell past the budget has skew 1.0 and still needs splits.
    * `maxWays` bounds one cell's split fan-out per pass (a cell that
    * needs more shrinks again on the next pass — each pass is O(cell)). */
  final case class SplitPolicy(budget: Long, maxWays: Int = 16) {
    require(budget >= 1 && maxWays >= 2, s"degenerate policy: $this")
  }

  /** Evaluate [[SplitPolicy]] against the counter ledger and split
    * every cell over budget — the auto-wired face of the skew escape
    * hatch (the maintenance loop calls this between micro-batches the
    * way it calls [[maybeRetrain]]). Each split is one atomic commit;
    * the scan is counters-only until a cell actually fires. Returns
    * (fat cid -> its new sub-cids), empty when nothing fired. */
  def maybeSplit(spark: SparkSession, indexPath: String, dim: Int,
      policy: SplitPolicy): Map[Long, Seq[Long]] = opLock.synchronized {
    val state = loadState(spark, indexPath)
    val fat = state.toSeq
      .collect { case (cid, (b, a)) if b + a > policy.budget => (cid, b + a) }
      .sortBy(_._1)
    fat.map { case (cid, occ) =>
      val ways = math.min(policy.maxWays,
        math.ceil(occ.toDouble / policy.budget).toInt).max(2)
      cid -> splitCell(spark, indexPath, cid, ways, dim)
    }.toMap
  }

  /** The SKEW escape hatch: re-cluster ONE oversized cell into `ways`
    * sub-cells. Skew is the one drift signal re-centering cannot fix
    * (moving a centroid never shrinks its partition), and the
    * full-corpus re-cluster is priced like a rebuild — but a fat cell
    * is a LOCAL problem, and this fixes it at O(cell) cost: read only
    * that cid's partition (static partition prune), k-means it into
    * `ways` sub-cells with the index build's own two plan shapes
    * (broadcast-assign + partial-aggregated means), then commit ONCE:
    * the replaced data partition, the patched centroid relation, and
    * the rewritten counters land atomically. At 100 TB this is the
    * remedy the skewAlert feeds: each fat cell costs one bounded job,
    * probes keep pruning throughout (any concurrent probe reads the
    * pre-split or post-split snapshot — never a row under two cids),
    * and occupancy returns under the rerank-budget rule (SCALE.md,
    * "Round-15: residual IVFADC": recall dies exactly when occupancy
    * dwarfs cand). A crash at any point leaves the pre-split snapshot
    * — re-run the call; there is no partial state.
    *
    * A sub-centroid that loses every final assignment is DROPPED from
    * the commit (it would be unroutable-in-practice and would
    * desynchronize centroids from counters); the returned cids are
    * exactly the routable sub-cells.
    *
    * Returns the new sub-cell cids. */
  def splitCell(spark: SparkSession, indexPath: String, cid: Long,
      ways: Int, dim: Int): Seq[Long] = opLock.synchronized {
    import spark.implicits._
    require(ways >= 2, s"splitting into $ways sub-cells is a no-op")
    val (oldCentroids, hasScid) = centroidRowsWithRouting(spark, indexPath)
    require(oldCentroids.exists(_._1 == cid),
      s"cid $cid is not in the centroid set of $indexPath")
    // two-level tables: the sub-cells inherit the dead cell's super —
    // their geometry lives strictly inside it, so the routing stays
    // exact without touching the super level
    val fatScid = oldCentroids.find(_._1 == cid).flatMap(_._3)
    // collision-free new ids: dense above the current max
    val newCids = {
      val maxCid = oldCentroids.map(_._1).max
      (1 to ways).map(maxCid + _.toLong)
    }
    // the fat cell's rows, fully materialized BEFORE the commit that
    // replaces their partition. Synthetic maintenance fixtures may
    // carry no label column — assignTo requires one.
    val raw = IndexStore.data(spark, indexPath, Some(Seq(cid)))
    val hasLabel = raw.columns.contains("label")
    val cell =
      (if (hasLabel) raw else raw.withColumn("label", lit(0L)))
        .select("vec_id", "label", "embedding")
        .localCheckpoint()
    val nRows = cell.count()
    require(nRows >= ways, s"cell $cid has $nRows rows < $ways ways")
    // within-cell k-means: seeds = the `ways` lowest vec_ids' vectors
    // (deterministic), two Lloyd passes of the index build's own plan
    // shapes; a sub-centroid that loses every assignment keeps its
    // previous position during the passes (the codebook-training
    // retention rule) so later passes can still win it back
    val seedRows = cell.orderBy("vec_id").limit(ways).collect()
    var centroids = seedRows.zipWithIndex.map { case (r, i) =>
      // the index stores float embeddings; synthetic spec fixtures use
      // double — seed either way
      (newCids(i), r.getSeq[Any](r.fieldIndex("embedding")).map {
        case f: Float => f.toDouble
        case d: Double => d
        case other => throw new IllegalStateException(
          s"unexpected embedding element $other")
      })
    }.toSeq.toDF("cid", "cv")
    def assign(c: DataFrame): DataFrame =
      graft.queries.SimilarityQueries.assignTo(cell, c)
    for (_ <- 1 to 2) {
      val moved = assign(centroids).groupBy("cid")
        .agg(array((1 to dim).map(i =>
          avg(element_at(col("embedding"), i).cast(DoubleType))): _*)
          .as("cv"))
        .localCheckpoint()
      centroids = moved.unionByName(
        centroids.join(moved.select("cid"), Seq("cid"), "left_anti"))
    }
    val outCols =
      if (hasLabel) Seq(col("vec_id"), col("label"), col("embedding"),
        col("cid"))
      else Seq(col("vec_id"), col("embedding"), col("cid"))
    val assigned = assign(centroids)
      .select(outCols: _*)
      .localCheckpoint()
    val subCounts = assigned.groupBy("cid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // only routable sub-cells (>= 1 assigned row) enter the commit
    val liveCids = newCids.filter(subCounts.contains)
    val cvByCid = centroids.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val patched = oldCentroids.filterNot(_._1 == cid) ++
      liveCids.map(c => (c, cvByCid(c), fatScid))
    // counters: the fat cell's ledger rows are REPLACED by per-sub-cell
    // base counts (fresh cells start undrifted); every other cid's
    // ledger rows pass through untouched
    val ledger = IndexStore.countsAt(spark, indexPath).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .filterNot(_._2 == cid) ++
      liveCids.map(c => ("base", c, subCounts(c)))
    // ONE commit: data partitions (old cell out, sub-cells in),
    // centroid relation, counter relation — all or nothing
    IndexStore.replace(spark, indexPath, Seq(
      DataRel -> assigned,
      CentroidRel -> centroidPatch(spark, patched, hasScid),
      CountRel -> ledger.toSeq.toDF("kind", "cid", "rows")),
      (col(RelCol) === DataRel &&
        col(PcidCol).isInCollection(cid +: newCids)) ||
        col(RelCol).isInCollection(Seq(CentroidRel, CountRel)))
    liveCids
  }
}
