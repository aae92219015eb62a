package graft.delta

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.hadoop.fs.Path
import graft.delta.log.{CommitWriter, LogSegment}

/** Delta-backed storage for the ANN/PQ index family.
  *
  * One index = ONE Delta table holding every relation the index needs,
  * distinguished by a `rel` partition column:
  *
  *  - `rel=data`  — the cid-partitioned bulk rows (raw vectors for an
  *    IVF index, PQ codes for a PQ index). The second partition column
  *    `pcid` mirrors each row's `cid`, so probes partition-prune to the
  *    probed cells exactly as the previous hive layout did.
  *  - `rel=centroid` / `rel=codebook` / `rel=count` / `rel=meta` — the
  *    index's metadata relations (coarse centroids, PQ codebooks, the
  *    drift counters, the distortion baseline). These live under ONE
  *    fixed partition (`pcid = -1`): at production nlist (10^5-10^6)
  *    they are real relations, not driver constants, and one partition
  *    keeps them to O(1) files per commit instead of one tiny file per
  *    centroid.
  *
  * Why one table instead of sibling directories: every maintenance
  * operation that used to span directories — append a batch AND its
  * counter rows, re-center centroids AND fold counters, split a fat
  * cell (move rows, patch centroids, replace counters) — becomes ONE
  * Delta commit, atomic across all the relations it touches. The
  * hand-rolled `_split_pending` markers, `_prev`/`_next` sibling swaps
  * and CURRENT-pointer state dirs this replaces each protected a
  * single directory and left the cross-directory window to custom
  * recovery code; the log-anchored commit protocol
  * ([[graft.delta.log.CommitWriter]], mirroring the reference's
  * `PutMode::Create` contract, crates/datafusion/src/engine/
  * file_format.rs:216-249) closes that window outright: a crash at any
  * point leaves the previous snapshot live, a probe concurrent with a
  * split reads one snapshot — old or new, never a row under two cids —
  * and the maintenance history is time-travelable like any table.
  *
  * Readers go through the Delta scan path ([[Snapshot.readWhere]]):
  * partition pruning on (rel, pcid) happens on the file inventory
  * before any parquet opens. The read helpers also accept plain-parquet
  * relations: a `(cid, cv)` centroid dir beside the index path (the
  * `_centroids` layout the oracle exports and the specs build), a
  * plain codebook dir, or a cid-partitioned data dir. Those have no
  * log, so [[versionOf]] answers None for them.
  */
object IndexStore {

  final val RelCol = "rel"
  final val PcidCol = "pcid"
  final val DataRel = "data"
  final val CentroidRel = "centroid"
  /** The SUPER level of a two-level coarse quantizer: (scid, cv) rows
    * stored under the table's existing (cid, cv) columns — the child
    * mapping rides as an `scid` column on the centroid relation. */
  final val SuperCentroidRel = "supercentroid"
  final val CodebookRel = "codebook"
  final val CountRel = "count"
  final val MetaRel = "meta"
  /** The single partition the metadata relations share. */
  final val MetaPcid = -1L

  def isDeltaTable(path: String): Boolean =
    new java.io.File(path, "_delta_log").exists()

  /** Current table version from ONE driver-side log listing — no Spark
    * job, no data IO. The cheap half of a per-batch snapshot refresh:
    * streaming maintenance loops re-resolve THIS every trigger and
    * re-read a relation only when a commit actually moved the table
    * (see SimilarityQueries.SnapshotGatedIndex). None for the
    * plain-parquet layouts (those have no version — callers fall back
    * to re-reading every time, the pre-r16 behavior), and None while
    * `_delta_log` exists but holds no commit or checkpoint yet (the
    * mid-create race). Any other log failure — a version gap, an
    * unreadable listing — propagates. */
  def versionOf(s: SparkSession, path: String): Option[Long] =
    if (!isDeltaTable(path)) None
    else try Some(LogSegment.forTable(s, new Path(path)).version)
    catch { case _: LogSegment.EmptyLogException => None }

  /** Tag one relation's rows with (rel, pcid). Data rows partition by
    * their own cid; metadata rels land in the shared MetaPcid bucket. */
  def tagged(df: DataFrame, rel: String): DataFrame = {
    val pcid =
      if (rel == DataRel) col("cid").cast(LongType) else lit(MetaPcid)
    df.withColumn(RelCol, lit(rel)).withColumn(PcidCol, pcid)
  }

  /** Union heterogeneous relation frames into the table's unified
    * schema — missing columns null out per rel (parquet stores a null
    * column chunk as bytes of metadata, so the union costs nothing on
    * the 100 TB data rel). */
  def unify(parts: Seq[(String, DataFrame)]): DataFrame =
    parts.map { case (rel, df) => tagged(df, rel) }
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Found the index table: one commit carrying every relation. */
  def create(s: SparkSession, path: String,
      parts: Seq[(String, DataFrame)]): Unit = {
    val dir = new java.io.File(path)
    if (dir.exists()) scala.reflect.io.Directory(dir).deleteRecursively()
    CommitWriter.createTable(s, unify(parts), path,
      partitionColumns = Seq(RelCol, PcidCol))
  }

  /** Append rows across relations in ONE commit (e.g. an arriving
    * batch's data rows plus its counter-ledger rows). */
  def append(s: SparkSession, path: String,
      parts: Seq[(String, DataFrame)]): Unit =
    CommitWriter.append(s, conform(s, path, unify(parts)), path)

  /** Atomically replace the slice matching `predicate` with `parts` —
    * the split/retrain primitive. The predicate must reference only
    * (rel, pcid) so the removes resolve from the file inventory's
    * partitionValues (never a data read), and every incoming row must
    * satisfy it (the replaceWhere contract). */
  def replace(s: SparkSession, path: String,
      parts: Seq[(String, DataFrame)], predicate: Column): Unit =
    graft.commands.ReplaceWhereCommand.replaceWhere(s,
      conform(s, path, unify(parts)), path, predicate)

  /** Align an incoming frame to the table's schema: missing columns
    * null-complete, order normalized (unionByName output order depends
    * on which rels a given commit carries). */
  private def conform(s: SparkSession, path: String,
      df: DataFrame): DataFrame = {
    val schema = DeltaTable.forPath(s, path).schema
    val known = schema.fieldNames.map(_.toLowerCase).toSet
    val stray = df.columns.filterNot(c => known(c.toLowerCase))
    // a column the table doesn't know would be dropped silently —
    // that's a caller bug (e.g. counters against a table created
    // without a count relation), not something to paper over
    require(stray.isEmpty, s"columns ${stray.mkString(", ")} do not " +
      s"exist in the index table at $path (schema: " +
      s"${schema.fieldNames.mkString(", ")}) — was the table created " +
      "without this relation?")
    val have = df.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    df.select(schema.fields.toIndexedSeq.map { f =>
      have.get(f.name.toLowerCase) match {
        // no cast when the types already agree up to nullability — a
        // Cast between array types that differ only in containsNull
        // fails analysis
        case Some(in) if org.apache.spark.sql.types.DataType
            .equalsIgnoreNullability(in.dataType, f.dataType) =>
          col(in.name).as(f.name)
        case Some(in) => col(in.name).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  /** One relation of the index, through the Delta scan path (static
    * file pruning on rel + the optional pcid list). */
  def rel(s: SparkSession, path: String, relName: String,
      pcids: Option[Seq[Long]] = None): DataFrame = {
    val filters = Seq(col(RelCol) === relName) ++
      pcids.map(cs => col(PcidCol).isInCollection(cs))
    DeltaTable.forPath(s, path).readWhere(filters: _*)
  }

  /** The data rel (or, fallback, a plain cid-partitioned parquet
    * dir). cid normalized to long either way (hive inference narrows
    * it to int on the fallback path). */
  def data(s: SparkSession, path: String,
      pcids: Option[Seq[Long]] = None): DataFrame =
    if (isDeltaTable(path))
      rel(s, path, DataRel, pcids).withColumn("cid", col("cid").cast(LongType))
    else {
      val raw = s.read.parquet(path)
        .withColumn("cid", col("cid").cast(LongType))
      pcids.map(cs => raw.where(col("cid").isInCollection(cs)))
        .getOrElse(raw)
    }

  /** The centroid relation of an IVF table — or a plain `(cid, cv)`
    * parquet dir (fallback: an index dir with a `_centroids` sibling,
    * or the centroid dir itself). */
  def centroidsAt(s: SparkSession, path: String): DataFrame =
    if (isDeltaTable(path))
      rel(s, path, CentroidRel).select(col("cid").cast(LongType).as("cid"),
        col("cv"))
    else {
      val dir =
        if (new java.io.File(path + "_centroids").exists()) path + "_centroids"
        else path
      s.read.parquet(dir).select("cid", "cv")
    }

  /** The super-centroid relation of a two-level IVF table: (scid, cv),
    * stored under the table's (cid, cv) columns. */
  def superCentroidsAt(s: SparkSession, path: String): DataFrame =
    rel(s, path, SuperCentroidRel)
      .select(col("cid").cast(LongType).as("scid"), col("cv"))

  /** The centroid relation WITH its super-cell routing column — the
    * child map of a two-level table: (cid, cv, scid). */
  def routedCentroidsAt(s: SparkSession, path: String): DataFrame =
    rel(s, path, CentroidRel).select(col("cid").cast(LongType).as("cid"),
      col("cv"), col("scid").cast(LongType).as("scid"))

  /** The codebook relation of a PQ table — or a plain `(m, code, cv)`
    * parquet dir (fallback). */
  def codebookAt(s: SparkSession, path: String): DataFrame =
    if (isDeltaTable(path))
      rel(s, path, CodebookRel).select("m", "code", "cv")
    else {
      val dir =
        if (new java.io.File(path + "_codebooks").exists()) path + "_codebooks"
        else path
      s.read.parquet(dir).select("m", "code", "cv")
    }

  /** The drift-counter ledger `(kind, cid, rows)` of an index table. */
  def countsAt(s: SparkSession, path: String): DataFrame =
    rel(s, path, CountRel)
      .select(col("kind"), col("cid").cast(LongType).as("cid"), col("rows"))

  /** Exact row count of one relation from the log's per-file numRecords
    * stats — zero data files opened (the Snapshot.statsRowCount rule,
    * scoped to one rel's partition). None for plain-parquet layouts or
    * when any file lacks the stat. Feeds the centroid-broadcast size
    * gate: at production nlist the centroid relation is a real table,
    * and whether it fits under the broadcast threshold must be decided
    * from metadata, not by assuming it always does. */
  def relRowCount(s: SparkSession, path: String,
      relName: String): Option[Long] = {
    if (!isDeltaTable(path)) return None
    val a = DeltaTable.forPath(s, path).allFiles
      .where(element_at(col("partitionValues"), RelCol) === relName)
      .agg(count(lit(1)).as("files"),
        count(get_json_object(col("stats"), "$.numRecords")).as("withStats"),
        sum(get_json_object(col("stats"), "$.numRecords").cast("long"))
          .as("rows"))
      .head
    if (a.getLong(0) == 0L) Some(0L)
    else if (a.getLong(1) == a.getLong(0)) Some(a.getLong(2))
    else None
  }

  /** The scalar metadata row (distortion baseline) of a PQ table. */
  def baselineAt(s: SparkSession, path: String): Double =
    if (isDeltaTable(path))
      rel(s, path, MetaRel).select("baseline").head.getDouble(0)
    else new String(java.nio.file.Files.readAllBytes(new java.io.File(
      path + "_codebooks", "_baseline_distortion").toPath), "UTF-8").toDouble

  // --------------------------------------------------------------------
  // Oracle mirror: DuckDB replays the search over the LIVE snapshot.
  // --------------------------------------------------------------------

  def mirrorDataPath(path: String): String = path + "_oracle"
  def mirrorRelPath(path: String, relName: String): String =
    s"${path}_oracle_$relName"

  /** Materialize a DuckDB-globbable view of the CURRENT snapshot (the
    * symlink_format_manifest idea, applied to the oracle gate): the
    * data rel becomes a directory of per-partition symlinks to exactly
    * the snapshot's live files (`<mirror>/pcid=N/<file>.parquet` — dead
    * files from replaced partitions never appear), and each requested
    * metadata rel is rewritten flat (they are O(nlist) rows). Stamped
    * with (table id, version): a no-op when the snapshot hasn't moved.
    * Test-oracle plumbing only — Spark-side reads go through the log. */
  def exportMirror(s: SparkSession, path: String,
      metadataRels: Seq[String] = Seq.empty): String = {
    val snap = DeltaTable.forPath(s, path)
    val mirror = new java.io.File(mirrorDataPath(path))
    val stampFile = new java.io.File(mirror, "_graft_mirror_stamp")
    val stamp = s"${snap.metadata.id}:${snap.version}:" +
      metadataRels.sorted.mkString(",")
    val fresh = stampFile.exists() &&
      new String(java.nio.file.Files.readAllBytes(stampFile.toPath),
        "UTF-8") == stamp
    if (fresh) return mirror.getAbsolutePath
    if (mirror.exists())
      scala.reflect.io.Directory(mirror).deleteRecursively()
    mirror.mkdirs()
    val files = snap.allFiles
      .select(col("path"),
        element_at(col("partitionValues"), RelCol).as("rel"),
        element_at(col("partitionValues"), PcidCol).as("pcid"))
      .where(col("rel") === DataRel)
      .collect()
    val tableDir = new java.io.File(path).getAbsoluteFile
    files.foreach { r =>
      val relPath = r.getString(0)
      val pcid = r.getString(2)
      val sub = new java.io.File(mirror, s"$PcidCol=$pcid")
      sub.mkdirs()
      val target = new java.io.File(tableDir, relPath)
      val link = new java.io.File(sub, target.getName)
      java.nio.file.Files.createSymbolicLink(link.toPath,
        target.getAbsoluteFile.toPath)
    }
    metadataRels.foreach { relName =>
      val out = mirrorRelPath(path, relName)
      val outDir = new java.io.File(out)
      if (outDir.exists())
        scala.reflect.io.Directory(outDir).deleteRecursively()
      val colsFor = relName match {
        // a two-level table's centroid mirror carries the super-cell
        // routing column; flat tables have no scid in their schema
        case CentroidRel =>
          if (snap.schema.fieldNames.contains("scid"))
            Seq("cid", "cv", "scid")
          else Seq("cid", "cv")
        case SuperCentroidRel => Seq("cid", "cv")
        case CodebookRel => Seq("m", "code", "cv")
        case other => throw new IllegalArgumentException(
          s"no oracle mirror layout for rel $other")
      }
      rel(s, path, relName).select(colsFor.map(col): _*)
        .coalesce(1).write.parquet(out)
    }
    java.nio.file.Files.write(stampFile.toPath, stamp.getBytes("UTF-8"))
    mirror.getAbsolutePath
  }
}
