package graft.commands

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.delta.DeltaTable
import graft.delta.log.{Actions, CommitWriter}

/** OPTIMIZE: bin-packing compaction (beyond-parity lakehouse command —
  * the reference has no write path at all; at 100 TB the small-file
  * problem this solves is the dominant scan-cost pathology for
  * training-data tables).
  *
  * Partitions (or the whole table, if unpartitioned) containing at
  * least `minFiles` files below `targetFileSize` are rewritten through
  * the full read path (deletion vectors applied, schema normalized) and
  * committed as remove+add with dataChange=false, so concurrent readers
  * see identical rows and history stays time-travelable.
  *
  * Scale shape: partition qualification is a DataFrame aggregation over
  * the live-file inventory; the driver collects only the files being
  * rewritten (the same metadata the commit JSON must hold anyway). All
  * qualifying partitions rewrite in ONE Spark job — plain compaction is
  * a shuffle-free coalesce, Z-order is a range-partitioned shuffle — so
  * job count does not grow with partition count.
  */
object OptimizeCommand {

  val DefaultTargetFileSize: Long = 128L * 1024 * 1024

  /** Bits per Z-order dimension: 256 quantile buckets per column. */
  private val ZBits = 8

  /** Order-preserving numeric projection of a clustering column, used to
    * compute distributed quantile ranks. Strings map to their first 8
    * bytes as an unsigned integer (NUL-padded so short keys stay
    * left-aligned); unordered types fall back to a hash, which still
    * clusters equal values together. */
  private def orderedProjection(c: Column, dt: DataType): Column = dt match {
    case _: StringType =>
      conv(hex(substring(encode(rpad(c, 8, "\u0000"), "UTF-8"), 1, 8)),
        16, 10).cast("double")
    case _: DateType | _: TimestampType => c.cast("timestamp").cast("double")
    case _: BooleanType => c.cast("int").cast("double")
    case _: NumericType => c.cast("double")
    case _ => xxhash64(c).cast("double")
  }

  /** Z-order clustering value: per-column quantile rank (8 bits),
    * bit-interleaved across columns. Ranks come from approxQuantile
    * boundaries — a distributed sketch pass — applied as a literal-array
    * fold per row, so there is no global sort anywhere: the only
    * wide exchange in the rewrite is the final range partitioning.
    * Sorting the rewrite by this value clusters correlated ranges into
    * the same files, which is what makes min/max file skipping effective
    * on multiple columns at once. */
  /** `graft.clustering.curve` (engine-specific key): how a clustered
    * table's policy-driven OPTIMIZE linearizes its clustering columns —
    * `zorder` (default, bit interleave) or `hilbert` (continuous
    * curve: consecutive positions are adjacent cells, so equal-size
    * file runs tile the space into tighter per-file bounding boxes and
    * multi-column range predicates prune more files — see
    * [[graft.operators.HilbertCurve]]). An EXPLICIT `ZORDER BY` always
    * means z-order; the property only steers the recorded-policy path. */
  final val ClusteringCurveKey = "graft.clustering.curve"

  private def zorderValue(df: DataFrame, cols: Seq[String],
      curve: String = "zorder"): DataFrame = {
    require(cols.nonEmpty && cols.length * ZBits < 63,
      s"ZORDER BY supports up to 7 columns, got ${cols.length}")
    val buckets = 1 << ZBits
    val projected = cols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      d.withColumn(s"__zp_$i", orderedProjection(col(c), df.schema(c).dataType))
    }
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds = projected.stat.approxQuantile(
      cols.indices.map(i => s"__zp_$i").toArray, probs, 0.001)
    val ranked = cols.indices.foldLeft(projected) { (d, i) =>
      val bnds = bounds(i).distinct.sorted.toSeq
      d.withColumn(s"__rank_$i",
        aggregate(typedLit(bnds), lit(0),
          (acc, b) => acc + when(col(s"__zp_$i") >= b, 1).otherwise(0)))
    }
    val key = curve match {
      case "hilbert" =>
        graft.functions.HilbertFunctions.hilbertIndex(ZBits,
          cols.indices.map(i => col(s"__rank_$i")): _*)
      case "zorder" =>
        // interleave bit b of every column: position b*n + i
        val n = cols.length
        (0 until ZBits).flatMap { b =>
          (0 until n).map { i =>
            (shiftright(col(s"__rank_$i"), b) % 2).cast("long") *
              lit(1L << (b * n + i))
          }
        }.reduce(_ + _)
      case other => throw new IllegalArgumentException(
        s"$ClusteringCurveKey must be zorder or hilbert, got $other")
    }
    ranked.withColumn("__z", key)
  }

  private def zorderHelperCols(cols: Seq[String]): Seq[String] =
    cols.indices.flatMap(i => Seq(s"__zp_$i", s"__rank_$i")) :+ "__z"

  /** Column names a predicate references, resolved by ANALYZING it
    * against the table schema (a Column may wrap a lazy node tree or a
    * raw SQL string — analysis normalizes both; an unresolvable name
    * surfaces as the usual AnalysisException naming it). */
  private[commands] def referencedNames(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      pred: Column): Seq[String] = {
    val probe = spark.createDataFrame(
      new java.util.ArrayList[Row](), schema)
    probe.where(pred).queryExecution.analyzed.expressions
      .flatMap(_.references.toSeq.map(_.name)).distinct
  }

  /** @param where partition-scoped compaction (`OPTIMIZE t WHERE p = 1`):
    *   only partitions satisfying the predicate are considered. The
    *   predicate must reference partition columns only — it is decided
    *   from the file inventory's partitionValues, no data read — which
    *   is also what makes partition-scoped OPTIMIZE jobs and ingest
    *   into other partitions conflict-free under the rebase rules. */
  def optimize(spark: SparkSession, tablePath: String,
      targetFileSize: Long = DefaultTargetFileSize,
      minFiles: Int = 2,
      zorderBy: Seq[String] = Seq.empty,
      where: Option[Column] = None,
      // auto-compact calls from the commit path pass the snapshot it
      // already resolved (one log resolution per commit, not two)
      snapOpt: Option[graft.delta.Snapshot] = None): DataFrame = {
    val snap = snapOpt.getOrElse(DeltaTable.forPath(spark, tablePath))
    graft.delta.log.ProtocolSupport.assertWritable(
      tablePath, snap.metadata, snap.protocol)
    require(!graft.delta.log.RowTracking.enabled(snap.metadata),
      "OPTIMIZE on a row-tracked table is not supported: compaction " +
        "moves rows, which would reassign their fresh ids (materialized " +
        "row ids are not implemented)")
    // clustered table (liquid clustering): the layout policy is table
    // metadata — a bare OPTIMIZE re-clusters by the recorded columns.
    // An explicit ZORDER BY on a clustered table is refused (two
    // competing layout policies would silently fight each other run
    // over run).
    val clusterCols =
      graft.delta.log.Clustering.columnsOf(spark, snap.segment)
    require(zorderBy.isEmpty || clusterCols.isEmpty,
      s"table is clustered by ${clusterCols.mkString("(", ", ", ")")}: " +
        "OPTIMIZE re-clusters by those columns — drop the ZORDER BY " +
        "clause (changing the clustering key is a table-level operation)")
    // a foreign writer may record spec-valid clustering columns this
    // engine can't cluster by (nested paths, dropped/renamed columns):
    // refuse with the policy named rather than crash mid-rewrite
    val topLevel = snap.schema.fieldNames.toSet
    val foreign = clusterCols.filterNot(topLevel)
    require(foreign.isEmpty,
      s"clustering column(s) ${foreign.mkString(", ")} are not top-level " +
        s"schema columns of $tablePath — this engine clusters on " +
        "top-level columns only; re-point the policy with ALTER TABLE " +
        "... CLUSTER BY or drop it with CLUSTER BY NONE")
    val effZorder = if (zorderBy.nonEmpty) zorderBy else clusterCols
    val partCols = snap.partitionColumns
    // partitionValues key by PHYSICAL name under column mapping
    val physOf: String => String = c =>
      graft.delta.scan.ColumnMapping.physicalPartitionName(snap.metadata, c)

    // Qualification: a z-order request rewrites every nonempty partition
    // (re-clustering is the point); plain compaction needs >= minFiles
    // small files. Decided as a DataFrame aggregation; only qualifying
    // files reach the driver (they are the commit's remove set).
    // deletionVector rides along so the compaction REMOVES can carry
    // the superseded descriptor (protocol hygiene: remove.deletionVector
    // is what lets VACUUM LITE reclaim the DV file once a checkpoint
    // compacts the old add away)
    val fullInv = snap.allFiles
      .select("path", "partitionValues", "size", "deletionVector")
    val inv = where match {
      case None => fullInv
      case Some(pred) =>
        require(partCols.nonEmpty,
          "OPTIMIZE ... WHERE requires a partitioned table (the scope " +
            "is decided from partition values, not a data scan)")
        val partSet = partCols.map(_.toLowerCase).toSet
        val outside = referencedNames(spark, snap.schema, pred)
          .filterNot(n => partSet(n.toLowerCase)).distinct
        require(outside.isEmpty,
          s"OPTIMIZE ... WHERE supports partition predicates only; " +
            s"column(s) ${outside.mkString(", ")} are not partition " +
            s"columns ${partCols.mkString("(", ", ", ")")}")
        fullInv
          .select(Seq(col("path"), col("partitionValues"), col("size"),
            col("deletionVector")) ++
            partCols.map(c => element_at(col("partitionValues"), physOf(c))
              .cast(snap.schema(c).dataType).as(c)): _*)
          .where(pred)
          .select("path", "partitionValues", "size", "deletionVector")
    }
    val files: Array[(String, Map[String, String], Long,
        Option[graft.delta.log.Actions.DeletionVectorDescriptor])] = {
      val qualRows =
        if (partCols.isEmpty) {
          val small = sum(when(col("size") < targetFileSize, 1L)
            .otherwise(0L)).as("__small")
          val n = first(lit(1L)).as("__one")
          val ok = inv.agg(small, n).head()
          val qualifies =
            if (effZorder.nonEmpty) !ok.isNullAt(1)
            else !ok.isNullAt(0) && ok.getLong(0) >= minFiles
          if (qualifies) inv.collect() else Array.empty[Row]
        } else {
          val keyNames = partCols.indices.map(i => s"__pk_$i")
          val keyed = inv.select(
            (Seq(col("path"), col("partitionValues"), col("size"),
              col("deletionVector")) ++
              partCols.zipWithIndex.map { case (c, i) =>
                element_at(col("partitionValues"), physOf(c)).as(s"__pk_$i")
              }): _*)
          // re-alias the aggregated side so the semi-join is not an
          // ambiguous self-join (groupBy keys keep their expr ids)
          val qual = keyed.groupBy(keyNames.map(col): _*)
            .agg(sum(when(col("size") < targetFileSize, 1L).otherwise(0L))
              .as("__small"))
            .where(if (effZorder.nonEmpty) lit(true)
                   else col("__small") >= minFiles)
            .select(keyNames.zipWithIndex.map { case (k, i) =>
              col(k).as(s"__q_$i") }: _*)
          val cond = keyNames.zipWithIndex
            .map { case (k, i) => keyed(k) <=> qual(s"__q_$i") }
            .reduce(_ && _)
          keyed.join(broadcast(qual), cond, "left_semi").collect()
        }
      qualRows.map(r => (r.getAs[String]("path"),
        Option(r.getAs[Map[String, String]]("partitionValues"))
          .getOrElse(Map.empty), r.getAs[Long]("size"),
        DmlCommands.dvDescriptorOf(r)))
    }

    if (files.isEmpty) return metrics(spark, 0, 0, 0)

    val partitions = files.map(_._2).distinct
    val totalBytes = files.map(_._3).sum
    val chunks = math.max(1, math.ceil(
      totalBytes.toDouble / math.max(targetFileSize, 1L)).toInt)

    // One read covering every qualifying partition. Z-order touches all
    // partitions -> full read (unless WHERE-scoped); compaction prunes
    // to qualifying partition values via an OR-of-AND predicate (exact
    // partition pruning).
    val base =
      if (partCols.isEmpty || (effZorder.nonEmpty && where.isEmpty)) snap.read
      else {
        val pred = partitions.map { pv =>
          partCols.map { c =>
            pv.get(physOf(c)) match {
              case Some(v) if v != null =>
                col(c) === lit(v).cast(snap.schema(c).dataType)
              case _ => col(c).isNull
            }
          }.reduce(_ && _)
        }.reduce(_ || _)
        snap.readWhere(pred)
      }

    // One rewrite job for all partitions: the partitioned writer splits
    // output by partition directory, so plain compaction needs no
    // shuffle at all; Z-order range-partitions on (partCols, z) so each
    // task holds a contiguous cluster range of one partition.
    val rewritten =
      if (effZorder.isEmpty) base.coalesce(chunks)
      else {
        // explicit ZORDER BY means z-order; the policy path follows the
        // table's declared curve (zorder default, hilbert opt-in)
        val curve =
          if (zorderBy.nonEmpty) "zorder"
          else snap.metadata.configuration
            .getOrElse(ClusteringCurveKey, "zorder")
        val keys = partCols.map(col) :+ col("__z")
        zorderValue(base, effZorder, curve)
          .repartitionByRange(chunks, keys: _*)
          .sortWithinPartitions(keys: _*)
          .drop(zorderHelperCols(effZorder): _*)
      }
    val adds = CommitWriter.writeTableFiles(spark, rewritten, tablePath,
      snap.metadata, dataChange = false)

    val now = System.currentTimeMillis()
    val actions = Seq.newBuilder[String]
    files.foreach { case (p, _, _, dv) =>
      actions += CommitWriter.removeJson(
        Actions.RemoveFile(p, Some(now), dataChange = false,
          deletionVector = dv))
    }
    adds.foreach(a => actions += CommitWriter.addJson(a))
    // compaction rearranges rows it already holds — its outcome depends
    // on no concurrent data (dependsOnNewData=false), so OPTIMIZE
    // rebases freely over racing appends (they stay live untouched) and
    // conflicts only when a winner removed/rewrote a file being
    // compacted. Compaction never blocking ingest is what makes
    // continuous background OPTIMIZE viable on a table under load.
    val compacted = files.map(_._1).toSet
    val compaction = actions.result()
    CommitWriter.commitWithRebaseVersioned(spark, tablePath, snap.segment,
      _ => compaction, operation = "OPTIMIZE",
      profile = graft.delta.log.ConflictChecker.TxnProfile(
        readPaths = compacted, removePaths = compacted))
    metrics(spark, partitions.length, files.length, adds.length)
  }

  private def metrics(spark: SparkSession, partitions: Int,
      removed: Int, added: Int): DataFrame = {
    CommandResult.metrics(spark,
      "partitions_optimized" -> partitions.toString,
      "files_removed" -> removed.toString, "files_added" -> added.toString)
  }
}
