package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Codebook-drift policy for the PQ index family — the product-
  * quantization analogue of [[IvfMaintenance]]'s centroid-drift
  * counters.
  *
  * The stored codebooks were trained on the corpus as it looked at
  * build time. Appended batches encode against those FROZEN codebooks
  * (that is what keeps ingest cheap: resident code partitions never
  * rewrite), so a distribution shift in the arriving vectors shows up
  * as rising QUANTIZATION DISTORTION — the squared L2 between a
  * vector's sub-vectors and the codewords it quantized to. Recall
  * decays with distortion (ADC ranks by the codeword, not the
  * vector), so distortion is the observable that tells maintenance
  * when the codebooks stopped describing the data.
  *
  * Policy (mirrors IvfMaintenance's shape): compare the mean
  * distortion of the APPENDED slice against a REFERENCE baseline and
  * fire when the ratio crosses `ratioThreshold` (default 2.0 —
  * appended vectors quantize twice as badly as the training data).
  * Because codebooks are frozen, the reference baseline is CONSTANT
  * per codebook build: measure it once at train time and persist it
  * (the IvfMaintenance recordBase pattern), then every routine check
  * costs only the appended slice — one broadcast join (PqM x PqK
  * codebook rows) + one partial-aggregated average, zero index IO.
  * The report is side-effect-free; the escape hatch is a codebook
  * re-train + full re-encode, the same two plan shapes as the
  * original build at any corpus size.
  */
object PqMaintenance {
  import graft.queries.SimilarityQueries.{pqDist, pqSubRows, PqShape, DefaultPqShape}

  final val DefaultRatioThreshold = 2.0

  final case class PqDriftReport(
      baseAvgDistortion: Double,
      appendedAvgDistortion: Double,
      ratio: Double,
      retrain: Boolean)

  /** Mean quantization distortion of `vectors` (vec_id, embedding)
    * against the STORED codebooks of the index at `codebooksPath`
    * (a Delta-backed index table's `rel=codebook` relation, or a plain
    * codebook dir — IndexStore.codebookAt accepts both): each
    * sub-vector is assigned to its nearest codeword (the encode rule)
    * and the winning squared L2s average over all (vector, subspace)
    * pairs. One broadcast join + one aggregation, linear in the slice.
    * An EMPTY slice reports 0.0 (nothing arrived — nothing drifted),
    * matching IvfMaintenance's quiet handling of zero appends. */
  def distortion(s: SparkSession, codebooksPath: String,
      vectors: DataFrame, shape: PqShape = DefaultPqShape): Double =
    distortionOf(s, graft.delta.IndexStore.codebookAt(s, codebooksPath),
      vectors, shape, source = codebooksPath)

  /** Same, against an explicit codebook relation (the build paths
    * measure the baseline on the codebooks they are ABOUT to commit —
    * there is no stored generation to read yet). */
  def distortionOf(s: SparkSession, cb: DataFrame, vectors: DataFrame,
      shape: PqShape = DefaultPqShape,
      source: String = "<in-memory codebook>"): Double = {
    val codebooksPath = source
    // a shape that mismatches the STORED codebooks must fail loudly,
    // not under-count: the inner join on m silently drops subspaces the
    // codebook lacks, and a subDim larger than the stored cv arrays
    // makes element_at return null (non-ANSI) — either way the reported
    // distortion reads LOWER than reality, muting the exact drift
    // trigger this measurement feeds. One bounded collect over the
    // (m, count, cv-length) profile validates all three axes (same
    // guard family as the search-side NaN/countDistinct checks).
    val profile = cb.groupBy("m").agg(
      count(lit(1)).as("rows"),
      countDistinct(col("code")).as("codes"),
      min(size(col("cv"))).as("minLen"),
      max(size(col("cv"))).as("maxLen")).collect()
    val ms = profile.map(_.getAs[Int]("m")).sorted.toSeq
    require(ms == (0 until shape.m),
      s"codebooks at $codebooksPath define subspaces $ms, shape wants " +
        s"0 until ${shape.m} — wrong PqShape for this index?")
    profile.foreach { r =>
      require(r.getAs[Long]("codes") == shape.k,
        s"codebooks at $codebooksPath: subspace ${r.getAs[Int]("m")} has " +
          s"${r.getAs[Long]("codes")} distinct codes, shape wants ${shape.k}")
      // count AND countDistinct (the knnJoinPqOver codebook-guard rule):
      // duplicated (m, code) rows with divergent cv pass a distinct-only
      // check yet lower the min-distance winner — under-reading
      // distortion, the exact failure mode this guard exists to catch
      require(r.getAs[Long]("rows") == shape.k,
        s"codebooks at $codebooksPath: subspace ${r.getAs[Int]("m")} has " +
          s"${r.getAs[Long]("rows")} rows, shape wants ${shape.k} — " +
          "duplicated (m, code) rows corrupt the min-distance winner")
      require(r.getAs[Int]("minLen") == shape.subDim &&
          r.getAs[Int]("maxLen") == shape.subDim,
        s"codebooks at $codebooksPath: subspace ${r.getAs[Int]("m")} " +
          s"codewords are ${r.getAs[Int]("minLen")}..${r.getAs[Int]("maxLen")} " +
          s"wide, shape wants ${shape.subDim}")
    }
    val winner = pqSubRows(vectors, shape)
      .join(broadcast(cb), Seq("m"))
      .withColumn("d", pqDist(col("sv"), col("cv"), shape.subDim))
      .groupBy("vec_id", "m")
      .agg(min(col("d")).as("d"))
    Option(winner.agg(avg(col("d"))).head.get(0))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)
  }

  /** Drift report against a PRECOMPUTED reference baseline (the
    * production shape: the baseline is constant per codebook build,
    * so routine checks scan only the appended slice). Both distortions
    * zero — including an empty appended slice — is a perfect fit, not
    * drift. */
  def driftReportFromBaseline(s: SparkSession, codebooksPath: String,
      baseDistortion: Double, appended: DataFrame,
      ratioThreshold: Double = DefaultRatioThreshold,
      shape: PqShape = DefaultPqShape): PqDriftReport = {
    val app = distortion(s, codebooksPath, appended, shape)
    val ratio =
      if (baseDistortion == 0.0) { if (app == 0.0) 1.0 else Double.PositiveInfinity }
      else app / baseDistortion
    PqDriftReport(baseDistortion, app, ratio, retrain = ratio > ratioThreshold)
  }

  /** PQ partitions whose cid no longer exists in the coarse index's
    * centroid set — the state a crash between an IVF [[IvfMaintenance
    * .splitCell]] commit and the dependent PQ table's [[syncAfterSplit]]
    * commit leaves behind. Orphaned partitions are UNREACHABLE (probes
    * prune by the live centroid set), so their rows silently drop out
    * of every search until synced: surface them loudly. O(metadata) —
    * one partition listing against one centroid read. */
  def orphanCids(s: SparkSession, pqPath: String,
      ivfPath: String): Seq[Long] = {
    import graft.delta.IndexStore
    val live = IndexStore.centroidsAt(s, ivfPath)
      .select("cid").collect().map(_.getLong(0)).toSet
    dataPcids(s, pqPath).filterNot(live).sorted
  }

  /** Distinct data-rel cids of a PQ table, answered from the file
    * inventory's partitionValues — zero data files opened (cid is also
    * a data column, but the pcid partition value mirrors it; a
    * column-scan + distinct here would be a full-table read at the
    * 100 TB target). Plain-parquet layouts fall back to the
    * column scan. */
  private def dataPcids(s: SparkSession, pqPath: String): Seq[Long] = {
    import graft.delta.IndexStore
    if (IndexStore.isDeltaTable(pqPath))
      graft.delta.DeltaTable.forPath(s, pqPath).allFiles
        .where(element_at(col("partitionValues"), IndexStore.RelCol) ===
          IndexStore.DataRel)
        .select(element_at(col("partitionValues"), IndexStore.PcidCol)
          .cast("long").as("pcid"))
        .distinct().collect().map(_.getLong(0)).toSeq
    else IndexStore.data(s, pqPath).select("cid").distinct()
      .collect().map(_.getLong(0)).toSeq
  }

  /** Post-split coherence for a PQ index layered on a split coarse
    * quantizer: [[IvfMaintenance.splitCell]] moved the cell's rows and
    * patched the centroids, but the PQ table still holds codes under
    * the DEAD cid — and for RESIDUAL construction those codes are
    * wrong in a deeper way: `x − centroid(x)` changed meaning for
    * every moved row, so the stored bytes decode against a centroid
    * that no longer routes them. The pinned rule: a split forces
    * re-encode of the moved rows — O(cell), the same bound as the
    * split itself.
    *
    * One replace commit on the PQ table's (rel=data, pcid ∈ dead ∪
    * current) slice:
    *  - the moved rows come from the COARSE table's post-split data rel
    *    (it carries the vectors and the new assignments — joined by
    *    vec_id against the dead partition's row set, so this heals any
    *    crash point: re-running is idempotent);
    *  - residual tables re-encode `x − newCentroid(x)` against the
    *    STORED codebooks (construction read from the meta tag);
    *  - raw tables re-encode too — their codes are centroid-independent
    *    and come out bit-identical, but the rows still must MOVE to
    *    the new pcid partitions to stay probe-reachable.
    *
    * Returns the cids the moved rows now live under. */
  def syncAfterSplit(s: SparkSession, pqPath: String, ivfPath: String,
      deadCid: Long, shape: PqShape = DefaultPqShape,
      packed: Boolean = true,
      splitCids: Option[Seq[Long]] = None): Seq[Long] = {
    import graft.delta.IndexStore
    import graft.queries.SimilarityQueries
    val orphanRows = IndexStore.data(s, pqPath, Some(Seq(deadCid)))
      .select("vec_id")
    // the coarse read is bounded to the split's OWN partitions — the
    // O(cell) contract: the caller passes splitCell's returned sub-cids
    // when it has them; a post-crash heal derives the candidate set as
    // the orphan INVERSE (live centroid cids with no PQ partition yet —
    // metadata only), which contains every sub-cell of an unsynced
    // split by construction. Either way, never a full coarse scan.
    val candidateCids = splitCids.getOrElse {
      val have = dataPcids(s, pqPath).toSet
      IndexStore.centroidsAt(s, ivfPath).select("cid").collect()
        .map(_.getLong(0)).filterNot(have).toSeq
    }
    require(candidateCids.nonEmpty,
      s"no candidate sub-cells for dead cell $deadCid — the coarse " +
        s"index at $ivfPath has no live cid absent from the PQ table " +
        "(already synced?)")
    // the coarse table's post-split truth for exactly the orphan rows
    val moved = IndexStore.data(s, ivfPath, Some(candidateCids))
      .join(orphanRows, Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("embedding"), col("cid"))
      .localCheckpoint()
    val newCids = moved.select("cid").distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    require(newCids.nonEmpty,
      s"no rows of dead cell $deadCid exist under the candidate " +
        s"sub-cells ${candidateCids.sorted} of $ivfPath — nothing to " +
        "re-encode (already synced?)")
    val cids = moved.select("vec_id", "cid")
    val cent = IndexStore.centroidsAt(s, ivfPath)
    val toEncode =
      if (SimilarityQueries.constructionOf(s, pqPath) ==
          SimilarityQueries.ConstructionResidual)
        SimilarityQueries.residualsAgainst(moved, cids, cent, shape.dim)
      else moved
    val reEncoded = SimilarityQueries.pqEncode(toEncode,
      IndexStore.codebookAt(s, pqPath), cids, shape, packed = packed,
      normOf = Some(moved))
    // rows ALREADY under the new pcids (appends that landed after the
    // split, correctly encoded against the patched centroids) ride
    // through the replace unchanged — the predicate wipes their
    // partitions, so they must re-enter the commit
    val dataCols = reEncoded.columns
    val already = IndexStore.data(s, pqPath, Some(newCids))
      .join(orphanRows, Seq("vec_id"), "left_anti")
      .select(dataCols.map(col).toIndexedSeq: _*)
    IndexStore.replace(s, pqPath,
      Seq(IndexStore.DataRel -> reEncoded.unionByName(already)),
      col(IndexStore.RelCol) === IndexStore.DataRel &&
        col(IndexStore.PcidCol).isInCollection(deadCid +: newCids))
    newCids
  }

  /** Convenience: measure the reference slice inline, then report.
    * Costs a reference scan per call — for repeated checks, measure
    * the baseline once and use [[driftReportFromBaseline]]. */
  def driftReport(s: SparkSession, codebooksPath: String,
      reference: DataFrame, appended: DataFrame,
      ratioThreshold: Double = DefaultRatioThreshold,
      shape: PqShape = DefaultPqShape): PqDriftReport =
    driftReportFromBaseline(s, codebooksPath,
      distortion(s, codebooksPath, reference, shape), appended,
      ratioThreshold, shape)
}
