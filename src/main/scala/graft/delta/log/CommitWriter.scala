package graft.delta.log

import java.util.UUID
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.node.ObjectNode
import scala.jdk.CollectionConverters._

/** Minimal Delta commit writer: parquet data files + JSON commits with
  * atomic create-no-overwrite, per-file stats, partitioned layout, and
  * classic checkpoints.
  *
  * Mirrors the atomic-commit semantics of the reference's JSON handler
  * (reference: crates/datafusion/src/engine/file_format.rs:216-249 —
  * `write_json_file` with `PutMode::Create`, AlreadyExists → error).
  * The reference leaves `insert_into` unimplemented
  * (table_provider/delta/mod.rs:171-178); this writer exists so the
  * rebuild can generate real Delta fixtures and exercise the read path.
  *
  * Scale note: per-file stats are computed in ONE distributed pass
  * (groupBy on `_metadata.file_path`), never by looping files on the
  * driver.
  */
object CommitWriter {
  import Actions._

  class ConcurrentCommitException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause) {
    def this(version: Long, cause: Throwable) =
      this(s"Commit version $version already exists", cause)
  }

  // ---- public API ----------------------------------------------------

  /** Create a new Delta table at `tablePath` from `df` (commit 0). */
  def createTable(spark: SparkSession, df: DataFrame, tablePath: String,
      partitionColumns: Seq[String] = Seq.empty,
      configuration: Map[String, String] = Map.empty,
      name: Option[String] = None,
      clusterBy: Seq[String] = Seq.empty): Metadata = {
    val partCols = resolvePartitionColumns(partitionColumns, df.schema)
    val clusterCols =
      if (clusterBy.isEmpty) Seq.empty[String]
      else Clustering.validate(clusterBy, df.schema, partCols)
    val meta = Metadata(
      id = UUID.randomUUID().toString,
      name = name, description = None, format = Format(),
      schemaString = df.schema.json,
      partitionColumns = partCols,
      configuration = configuration,
      createdTime = Some(System.currentTimeMillis()))
    validateIntegerProperties(configuration)
    configuration.get(DataSkippingStatsColumnsKey)
      .foreach(validateStatsColumns(_, df.schema, partCols))
    // founding rows must honor delta.constraints.* passed at creation
    // (CTAS TBLPROPERTIES) exactly like every later write path does
    val rawAdds = writeTableFiles(spark, Constraints.enforce(df, meta),
      tablePath, meta)
    // a table born with a feature-gated property must declare the
    // feature from version 0 (a legacy reader would otherwise silently
    // resurrect DV-deleted rows; a legacy writer would skip ICTs)
    def on(key: String) =
      configuration.get(key).exists(_.equalsIgnoreCase("true"))
    var proto = featureGatedProtocol(Protocol(), configuration)
    // row tracking stamps base ids from 0 and declares its features +
    // high-water-mark domain in the same founding commit
    val (adds, domainActions) =
      if (on(RowTracking.PropKey) && rawAdds.nonEmpty) {
        proto = ProtocolSupport.withRowTracking(proto).getOrElse(proto)
        val (stamped, domain) = RowTracking.stamp(rawAdds, 0L, 0L)
        (stamped, Seq(domain))
      } else if (on(RowTracking.PropKey)) {
        proto = ProtocolSupport.withRowTracking(proto).getOrElse(proto)
        (rawAdds, Seq.empty[String])
      } else (rawAdds, Seq.empty[String])
    // a clustered table declares its feature + columns from version 0,
    // so the first OPTIMIZE already knows the layout policy
    val clusterActions =
      if (clusterCols.isEmpty) Seq.empty[String]
      else {
        proto = Clustering.requiredProtocol(proto).getOrElse(proto)
        Seq(Clustering.domainJson(clusterCols))
      }
    commit(spark, tablePath, 0L,
      Seq(protocolJson(proto), metadataJson(meta)) ++ domainActions ++
        clusterActions ++ adds.map(addJson),
      operation = "CREATE TABLE AS SELECT")
    meta
  }

  /** Validate + canonicalize partition columns against the write
    * schema: case-insensitive resolve, schema-case result. Without
    * this a case-mismatched CTAS/CREATE commits metadata
    * `partitionColumns` the (case-sensitive) read path can never
    * resolve — a successfully-written, permanently unreadable table. */
  private def resolvePartitionColumns(cols: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    if (cols.isEmpty) return cols
    val byLower = schema.fieldNames.map(f => f.toLowerCase -> f).toMap
    val out = cols.map(c => byLower.getOrElse(c.toLowerCase,
      throw new IllegalArgumentException(
        s"partition column $c not found in schema " +
          s"(${schema.fieldNames.mkString(", ")})")))
    require(out.distinct.size == out.size,
      s"duplicate partition columns: ${cols.mkString(", ")}")
    out
  }

  /** Protocol obligations implied by feature-gated table properties
    * (DV, ICT, CDF, CHECK constraints) — shared by CREATE and REPLACE
    * so a founding/replacing commit can never enable a property
    * without declaring its feature. */
  private def featureGatedProtocol(proto: Protocol,
      configuration: Map[String, String]): Protocol = {
    def on(key: String) =
      configuration.get(key).exists(_.equalsIgnoreCase("true"))
    var p = proto
    if (on("delta.enableDeletionVectors"))
      p = ProtocolSupport.withDeletionVectors(p).getOrElse(p)
    if (on("delta.enableInCommitTimestamps"))
      p = ProtocolSupport.withWriterFeature(p, "inCommitTimestamp")
        .getOrElse(p)
    if (on("delta.enableChangeDataFeed"))
      p = ProtocolSupport.withWriterFeature(p, "changeDataFeed")
        .getOrElse(p)
    if (configuration.keys.exists(_.startsWith("delta.constraints."))) {
      p = if (p.minWriterVersion >= 7)
        ProtocolSupport.withWriterFeature(p, "checkConstraints")
          .getOrElse(p)
      else if (p.minWriterVersion < 3) p.copy(minWriterVersion = 3)
      else p
    }
    p
  }

  /** Create a COLUMN-MAPPED table (`delta.columnMapping.mode = name`):
    * every field gets a stable id and a `col-N` physical name, the data
    * files are written under the physical names, and the logical schema
    * (with the mapping riding field metadata) lives only in the log —
    * which is what makes cheap RENAME COLUMN possible at 100 TB: a
    * rename becomes a metadata commit, never a data rewrite. Flat,
    * unpartitioned schemas only (nested/partitioned mapping would need
    * per-file transform plumbing the fixtures don't exercise). */
  def createTableMapped(spark: SparkSession, df: DataFrame,
      tablePath: String, partitionColumns: Seq[String] = Seq.empty): Metadata = {
    require(df.schema.fields.forall(f => !f.dataType.isInstanceOf[StructType]),
      "createTableMapped supports flat schemas only")
    require(partitionColumns.forall(c =>
      df.schema.fieldNames.exists(_.equalsIgnoreCase(c))),
      s"partition column(s) ${partitionColumns.mkString(", ")} not in schema")
    // normalize to the schema's exact casing: physicalPartitionName and
    // every later logical-name lookup resolve case-SENSITIVELY against
    // the schema, so metadata must not carry the caller's casing
    val normPartCols = partitionColumns.map(c =>
      df.schema.fieldNames.find(_.equalsIgnoreCase(c)).get)
    val mappedFields = df.schema.fields.zipWithIndex.map { case (f, i) =>
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putLong("delta.columnMapping.id", i + 1L)
        .putString("delta.columnMapping.physicalName", s"col-${i + 1}")
        .build())
    }
    val meta = Metadata(
      id = UUID.randomUUID().toString,
      name = None, description = None, format = Format(),
      schemaString = StructType(mappedFields).json,
      // metadata carries the LOGICAL names (they reference schema fields)
      partitionColumns = normPartCols,
      // maxColumnId is the high-water mark for field ids — ids must
      // NEVER be reused (a dropped column's physical name may still
      // hold its data in old parquet files), so ADD COLUMN allocates
      // from here, not from the surviving schema's max
      configuration = Map(
        "delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> mappedFields.length.toString),
      createdTime = Some(System.currentTimeMillis()))
    // data files and the hive layout use the PHYSICAL names
    val adds = writeTableFiles(spark, df, tablePath, meta)
    commit(spark, tablePath, 0L,
      Seq(protocolJson(Protocol(2, 5)), metadataJson(meta)) ++
        adds.map(addJson),
      operation = "CREATE TABLE AS SELECT")
    meta
  }

  /** Rename a logical-name DataFrame to the table's physical names when
    * the table is column-mapped (identity otherwise) — every append
    * path funnels through this so mapped tables never receive
    * logical-name parquet. The rename is RECURSIVE (nested struct
    * fields carry their own physical names); columns outside the table
    * schema (e.g. a CDC frame's `_change_type`) pass through unchanged. */
  private[graft] def toPhysicalNames(df: DataFrame, meta: Metadata): DataFrame = {
    import graft.delta.scan.ColumnMapping
    if (ColumnMapping.mode(meta) == "none") return df
    val byName = meta.dataSchema.fields
      .map(f => f.name.toLowerCase -> f).toMap
    val cols = df.schema.fields.map { f =>
      byName.get(f.name.toLowerCase) match {
        case Some(lf) =>
          val pf = ColumnMapping
            .toPhysicalSchema(StructType(Seq(lf)), "name").fields.head
          ColumnMapping.toPhysicalColumn(lf, pf)
        case None => org.apache.spark.sql.functions
          .col(s"`${f.name.replace("`", "``")}`")
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Partition column names as they key the hive layout and the log's
    * partitionValues: PHYSICAL under column mapping, logical otherwise.
    * Every write of a physical-renamed frame must partition by these. */
  private[graft] def physicalPartitionColumns(meta: Metadata): Seq[String] =
    meta.partitionColumns.map(c =>
      graft.delta.scan.ColumnMapping.physicalPartitionName(meta, c))

  /** Schema evolution on write (delta-spark's `mergeSchema=true`):
    * net-new columns in the incoming frame — top-level or nested
    * struct fields — are APPENDED to the table schema, nullable, and
    * the evolved metadata rides the SAME commit as the data, so old
    * files simply impute null for the new fields on read. Type
    * conflicts on shared columns still reject (type WIDENING remains
    * an explicit ALTER — silent widening under a flag is how mixed
    * pipelines corrupt each other). On column-mapped tables the
    * net-new fields get their physical-name/field-id allocation HERE —
    * the same allocation ALTER TABLE ADD COLUMN performs, ids off the
    * maxColumnId high-water mark (never reused after a DROP) — so the
    * evolved write stays one commit. Returns the evolved metadata, or
    * None when the incoming schema adds nothing. */
  private def mergedWriteSchema(meta: Metadata, incoming: StructType,
      op: String): Option[Metadata] = {
    def mergeStruct(table: StructType, in: StructType): StructType = {
      val byName = table.fields.map(f => f.name.toLowerCase -> f).toMap
      val kept = table.fields.map { tf =>
        in.fields.find(_.name.equalsIgnoreCase(tf.name)) match {
          case Some(inF) => (tf.dataType, inF.dataType) match {
            case (t: StructType, i: StructType) =>
              tf.copy(dataType = mergeStruct(t, i))
            case _ => tf
          }
          case None => tf
        }
      }
      val fresh = in.fields
        .filterNot(f => byName.contains(f.name.toLowerCase))
        .map(f => f.copy(nullable = true))
      StructType(kept ++ fresh)
    }
    val evolved = mergeStruct(meta.dataSchema, incoming)
    if (evolved == meta.dataSchema) None
    else if (graft.delta.scan.ColumnMapping.mode(meta) == "none")
      Some(meta.copy(schemaString = evolved.json))
    else {
      // fresh fields are exactly those WITHOUT mapping metadata (they
      // came from the incoming frame); existing fields keep theirs. A
      // fresh struct allocates ids for its children too — every field
      // of a mapped schema must carry one.
      var next = math.max(
        meta.configuration.get("delta.columnMapping.maxColumnId")
          .map(_.toLong).getOrElse(0L),
        graft.delta.scan.ColumnMapping.maxFieldId(meta.dataSchema))
      def allocType(dt: org.apache.spark.sql.types.DataType)
          : org.apache.spark.sql.types.DataType = dt match {
        case s: StructType => StructType(s.fields.map(alloc))
        case a: ArrayType => a.copy(elementType = allocType(a.elementType))
        case m: org.apache.spark.sql.types.MapType =>
          m.copy(keyType = allocType(m.keyType),
            valueType = allocType(m.valueType))
        case other => other
      }
      def alloc(f: StructField): StructField = {
        val withChildren = f.copy(dataType = allocType(f.dataType))
        if (withChildren.metadata.contains("delta.columnMapping.id"))
          withChildren
        else {
          next += 1
          withChildren.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(withChildren.metadata)
              .putLong("delta.columnMapping.id", next)
              .putString("delta.columnMapping.physicalName", s"col-$next")
              .build())
        }
      }
      val allocated = StructType(evolved.fields.map(alloc))
      Some(meta.copy(schemaString = allocated.json,
        configuration = meta.configuration +
          ("delta.columnMapping.maxColumnId" -> next.toString)))
    }
  }

  /** Write-schema enforcement for appends/overwrites into an existing
    * table: unknown columns and type conflicts are rejected up front —
    * without this, a typo'd or wrongly-typed column lands silently in
    * parquet and only surfaces (as imputed nulls or a read error) much
    * later. Missing nullable columns stay allowed: the read path
    * imputes null by name, the standard subset-write contract.
    * Comparison uses sameType (case/nullability-insensitive), matching
    * the scan's name-based resolution. Schema EVOLUTION stays explicit:
    * commit the new schema via commitMetadata first, then write. */
  private[graft] def validateWriteSchema(df: DataFrame, meta: Metadata,
      op: String): Unit = {
    val table = meta.dataSchema
    val byName = table.fields.map(f => f.name.toLowerCase -> f).toMap
    val extra = df.schema.fields
      .filterNot(f => byName.contains(f.name.toLowerCase))
    require(extra.isEmpty,
      s"$op: column(s) ${extra.map(_.name).mkString(", ")} do not exist " +
        s"in the table schema ${table.fieldNames.mkString("(", ", ", ")")}; " +
        "evolve the schema first (ALTER TABLE ADD COLUMN / commitMetadata) " +
        "or opt in with mergeSchema=true")
    // struct columns compare by SUBSET: a writer still sending the
    // pre-evolution nested shape stays valid after another writer's
    // nested mergeSchema evolution — the read path imputes null for
    // the missing nested fields exactly as it does for missing
    // top-level columns. Unknown nested fields still reject.
    def writeCompatible(tableT: org.apache.spark.sql.types.DataType,
        dfT: org.apache.spark.sql.types.DataType): Boolean =
      (tableT, dfT) match {
        case (t: StructType, d: StructType) =>
          val tByName = t.fields.map(f => f.name.toLowerCase -> f).toMap
          d.fields.forall(df0 => tByName.get(df0.name.toLowerCase)
            .exists(tf => writeCompatible(tf.dataType, df0.dataType)))
        case _ =>
          org.apache.spark.sql.graftshim.Shims.sameType(tableT, dfT)
      }
    val mismatched = df.schema.fields.flatMap { f =>
      byName.get(f.name.toLowerCase)
        .filterNot(tf => writeCompatible(tf.dataType, f.dataType))
        .map(tf => s"${f.name}: ${f.dataType.simpleString} vs table " +
          tf.dataType.simpleString)
    }
    require(mismatched.isEmpty,
      s"$op: incompatible column type(s) — ${mismatched.mkString("; ")}")
    val dfNames = df.schema.fieldNames.map(_.toLowerCase).toSet
    val missingRequired = table.fields
      .filterNot(_.nullable).filterNot(f => dfNames(f.name.toLowerCase))
    require(missingRequired.isEmpty,
      s"$op: non-nullable column(s) " +
        s"${missingRequired.map(_.name).mkString(", ")} missing from the " +
        "write (the read path would impute null into a NOT NULL column)")
  }

  /** [[commitWithRebaseVersioned]] for a caller that holds only the
    * version it read and commits the same actions on every attempt:
    * resolves that version's segment (one listing) as the first parent. */
  def commitWithRebase(spark: SparkSession, tablePath: String,
      readVersion: Long, actionLines: Seq[String], operation: String,
      profile: ConflictChecker.TxnProfile,
      operationParameters: Map[String, String] = Map.empty,
      maxRetries: Int = 10): Long =
    commitWithRebaseVersioned(spark, tablePath,
      LogSegment.forTable(spark, new Path(tablePath), Some(readVersion)),
      _ => actionLines, operation, profile, operationParameters, maxRetries)

  /** The one optimistic-concurrency loop every write commits through.
    * Each attempt lands at `parent.version + 1`, with the actions
    * `actionsFor(parent)` builds for that parent: `read` (the segment
    * the caller read) on the first attempt, then the tip this loop
    * resolves after a lost race. On a lost race the winner commits are
    * read and classified ([[ConflictChecker]]); when none of them
    * logically conflicts with `profile` the next attempt lands on the
    * new tip (data files are written once; only the commit JSON
    * retries), and a real conflict surfaces as a typed
    * ConcurrentCommitException subclass naming what clashed. So
    * whatever an attempt derives from its parent (row-id high-water
    * mark, an idempotence re-check) is re-derived per attempt without
    * another listing.
    *
    * @param allocatesIdentity the actions carry identity values baked
    *   into the data files. A winner may have allocated from the same
    *   high-water mark, so such a write makes exactly one attempt and a
    *   lost race asks the caller to re-run it. */
  def commitWithRebaseVersioned(spark: SparkSession, tablePath: String,
      read: LogSegment, actionsFor: LogSegment => Seq[String],
      operation: String, profile: ConflictChecker.TxnProfile,
      operationParameters: Map[String, String] = Map.empty,
      maxRetries: Int = 10, allocatesIdentity: Boolean = false): Long = {
    var parent = read
    var attempts = 0
    while (true) {
      val v = parent.version + 1
      try {
        commit(spark, tablePath, v, actionsFor(parent), operation,
          operationParameters)
        return v
      } catch {
        case e: ConcurrentCommitException =>
          if (allocatesIdentity)
            throw new ConcurrentCommitException(
              s"concurrent commit while allocating identity values for " +
                s"$tablePath — re-run the write (values must be " +
                "re-allocated from the advanced high-water mark)", e)
          attempts += 1
          if (attempts > maxRetries) throw e
          val tip = LogSegment.forTable(spark, new Path(tablePath))
          // a lost race with no newer commit visible is unresolvable
          // (e.g. an eventually-consistent listing); surface it raw
          if (tip.version <= parent.version) throw e
          // throws a typed subclass on a real conflict — thrown inside
          // this catch, so it propagates to the caller untouched
          ConflictChecker.check(spark, tablePath,
            ConflictChecker.winners(spark, tablePath, v, tip.version),
            profile, e)
          parent = tip
      }
    }
    -1L // unreachable
  }

  /** A data write staged in a table's layout: the metadata it was
    * validated against, its data files, the one metadata action its
    * commit carries (identity advance and/or schema evolution), and
    * whether it allocated identity values. */
  private[graft] final case class StagedWrite(meta: Metadata,
      adds: Seq[AddFile], metaUpdate: Option[Metadata],
      allocatesIdentity: Boolean) {
    /** The commit's actions on top of `parent`: the metadata action,
      * `removes`, then the adds (row ids stamped from the parent). */
    def actions(spark: SparkSession, parent: LogSegment,
        removes: Seq[String] = Seq.empty): Seq[String] =
      metaUpdate.map(metadataJson).toSeq ++ removes ++
        RowTracking.addActions(spark, meta, adds, parent)
  }

  /** The completion step every append-shaped write shares: evolve the
    * schema when asked, complete `df` (identity values, column
    * defaults, generated columns), validate it against the table
    * schema, enforce CHECK constraints and write it in the table's
    * layout. Identity appends carry the advanced high-water mark in the
    * same metadata action as the evolved schema (advance starts from
    * the already-evolved metadata). */
  private[graft] def stageWrite(spark: SparkSession, df: DataFrame,
      tablePath: String, tableMeta: Metadata, mergeSchema: Boolean,
      op: String): StagedWrite = {
    val evolvedMeta =
      if (mergeSchema) mergedWriteSchema(tableMeta, df.schema, op) else None
    val meta = evolvedMeta.getOrElse(tableMeta)
    val completed = GeneratedColumns.complete(
      ColumnDefaults.complete(IdentityColumns.assign(df, meta), meta),
      meta)
    validateWriteSchema(completed, meta, op)
    val adds = writeTableFiles(spark, Constraints.enforce(completed, meta),
      tablePath, meta)
    val identityUpdate = IdentityColumns.advance(meta, adds)
    StagedWrite(meta, adds, identityUpdate.orElse(evolvedMeta),
      identityUpdate.isDefined)
  }

  /** Append `df` to an existing table as the next commit. Blind appends
    * depend on no row content, so a lost race rebases at the next
    * version unless a winner changed the table contract itself
    * (protocol/metadata — the conflict-checker rules); row-tracked
    * appends re-stamp their ids from each attempt's parent. Schema
    * evolution without identity stays rebase-safe: the SAME evolved
    * metadata re-commits at the new tip. */
  def append(spark: SparkSession, df: DataFrame, tablePath: String,
      maxRetries: Int = 10, mergeSchema: Boolean = false): Long = {
    val read = LogSegment.forTable(spark, new Path(tablePath))
    val (meta, proto) = Replay.metadataAndProtocol(spark, read)
    ProtocolSupport.assertWritable(tablePath, meta, proto)
    val w = stageWrite(spark, df, tablePath, meta, mergeSchema, "append")
    commitWithRebaseVersioned(spark, tablePath, read,
      w.actions(spark, _), operation = "WRITE",
      profile = ConflictChecker.TxnProfile(), maxRetries = maxRetries,
      allocatesIdentity = w.allocatesIdentity)
  }

  /** Thrown by an [[appendIfAbsent]] attempt whose parent already
    * records its (appId, txnVersion). */
  private final class TxnAlreadyApplied
    extends scala.util.control.ControlThrowable

  /** Idempotent append keyed by (appId, txnVersion) — the Delta
    * SetTransaction contract for exactly-once writers (e.g. streaming
    * sinks): if the log already records this appId at or past
    * txnVersion, the append is a no-op. */
  def appendIfAbsent(spark: SparkSession, df: DataFrame, tablePath: String,
      appId: String, txnVersion: Long, maxRetries: Int = 10,
      mergeSchema: Boolean = false): Option[Long] = {
    def applied(segment: LogSegment): Boolean =
      txnVersionIn(spark, segment, appId).exists(_ >= txnVersion)
    // the idempotence check reads the SAME segment the commit builds on:
    // checked against an older listing, a replay could land on top of
    // the commit that already carries its txn
    val read = LogSegment.forTable(spark, new Path(tablePath))
    if (applied(read)) return None
    val (meta, proto) = Replay.metadataAndProtocol(spark, read)
    ProtocolSupport.assertWritable(tablePath, meta, proto)
    val w = stageWrite(spark, df, tablePath, meta, mergeSchema,
      "appendIfAbsent")
    val txn = txnJson(SetTransaction(appId, txnVersion,
      Some(System.currentTimeMillis())))
    try Some(commitWithRebaseVersioned(spark, tablePath, read,
      parent => {
        // a rebase first re-checks idempotence against the new parent:
        // if it already carries this (appId, txnVersion), this batch is
        // a replay and becomes a no-op (the orphaned data files are
        // invisible and vacuumable)
        if ((parent ne read) && applied(parent)) throw new TxnAlreadyApplied
        txn +: w.actions(spark, parent)
      },
      operation = "WRITE", profile = ConflictChecker.TxnProfile(),
      maxRetries = maxRetries, allocatesIdentity = w.allocatesIdentity))
    catch {
      case _: TxnAlreadyApplied => None
      // a race the loop does not rebase (an identity write's single
      // attempt, a replay whose commit also evolved the metadata) is
      // still a no-op when the winner was this very batch
      case _: ConcurrentCommitException
          if applied(LogSegment.forTable(spark, new Path(tablePath))) => None
    }
  }

  /** Logical overwrite: one commit removes every live file and adds the
    * replacement data (old versions stay time-travelable until VACUUM).
    * Mapping-aware like every write path. A lost commit race goes
    * through the conflict checker with a read-everything profile —
    * overwrite-vs-any-data-change is a REAL semantic conflict surfaced
    * as a typed exception; only content-neutral winners (e.g. a pure
    * SetTransaction heartbeat) permit a rebase. Identity high-water
    * marks survive an overwrite (values stay monotonic across the
    * table's whole history, per spec), and the new rows of a
    * row-tracked table get fresh ids. */
  def overwrite(spark: SparkSession, df: DataFrame, tablePath: String,
      mergeSchema: Boolean = false): Long = {
    val snap = graft.delta.DeltaTable.forPath(spark, tablePath)
    ProtocolSupport.assertWritable(tablePath, snap.metadata, snap.protocol,
      dataChangingRemoves = true)
    val oldPaths = snap.allFiles.select("path")
      .collect().map(_.getString(0)).toSeq
    val w = stageWrite(spark, df, tablePath, snap.metadata, mergeSchema,
      "overwrite")
    val now = System.currentTimeMillis()
    val removes = oldPaths.map(p =>
      removeJson(RemoveFile(p, Some(now), dataChange = true)))
    commitWithRebaseVersioned(spark, tablePath, snap.segment,
      w.actions(spark, _, removes), operation = "WRITE",
      profile = ConflictChecker.TxnProfile(
        readPaths = oldPaths.toSet, removePaths = oldPaths.toSet,
        dependsOnNewData = true),
      allocatesIdentity = w.allocatesIdentity)
  }

  /** CREATE OR REPLACE TABLE semantics: ONE commit removes every live
    * file and replaces schema, partitioning, configuration, and
    * clustering policy wholesale — while the table's identity
    * (metadata.id) and history stay, which is what distinguishes
    * REPLACE from drop+create: old versions remain time-travelable
    * until VACUUM, streaming readers see one atomic transition, and
    * the log/retention/checkpoint machinery is undisturbed.
    *
    * Feature-gated properties in the NEW configuration (DV, ICT, CDF)
    * upgrade the protocol in the same commit; existing protocol
    * features are never downgraded (files written under them are
    * gone, but historical versions still need them). Row-tracked
    * tables (old or new) refuse: a wholesale replace cannot preserve
    * row lineage, and silently resetting ids would corrupt the
    * domain's contract. */
  def replaceTable(spark: SparkSession, df: DataFrame, tablePath: String,
      partitionColumns: Seq[String] = Seq.empty,
      configuration: Map[String, String] = Map.empty,
      clusterBy: Seq[String] = Seq.empty): Long = {
    val snap = graft.delta.DeltaTable.forPath(spark, tablePath)
    // the change feed cannot represent a wholesale schema replace (the
    // delete pre-images and insert rows need not share a schema) —
    // refuse with the real reason, not the generic DML cdc message
    require(!ProtocolSupport.cdfEnabled(snap.metadata),
      s"REPLACE TABLE on a change-data-feed table is not supported: " +
        "the change feed cannot represent a wholesale schema replace " +
        s"— UNSET delta.enableChangeDataFeed on $tablePath first")
    ProtocolSupport.assertWritable(tablePath, snap.metadata, snap.protocol,
      dataChangingRemoves = true)
    require(!RowTracking.enabled(snap.metadata) &&
      !configuration.get(RowTracking.PropKey).exists(_.equalsIgnoreCase("true")),
      s"REPLACE TABLE on row-tracked tables is not supported: $tablePath")
    val partCols = resolvePartitionColumns(partitionColumns, df.schema)
    val clusterCols =
      if (clusterBy.isEmpty) Seq.empty[String]
      else Clustering.validate(clusterBy, df.schema, partCols)
    val meta = snap.metadata.copy(
      schemaString = df.schema.json,
      partitionColumns = partCols,
      configuration = configuration)
    validateIntegerProperties(configuration)
    configuration.get(DataSkippingStatsColumnsKey)
      .foreach(validateStatsColumns(_, df.schema, partCols))
    val adds = writeTableFiles(spark, Constraints.enforce(df, meta),
      tablePath, meta)
    var proto = featureGatedProtocol(snap.protocol, configuration)
    val clusterActions =
      if (clusterCols.nonEmpty) {
        proto = Clustering.requiredProtocol(proto).getOrElse(proto)
        Seq(Clustering.domainJson(clusterCols))
      } else if (Clustering.columnsOf(spark, snap.segment).nonEmpty)
        Seq(Clustering.removalJson) // the old layout policy dies with it
      else Seq.empty[String]
    val protoAction =
      if (proto != snap.protocol) Seq(protocolJson(proto)) else Seq.empty
    val oldPaths = snap.allFiles.select("path")
      .collect().map(_.getString(0)).toSeq
    val now = System.currentTimeMillis()
    val removes = oldPaths.map(p =>
      removeJson(RemoveFile(p, Some(now), dataChange = true)))
    // a replace that enables ICT mid-life records WHEN it took effect
    // (per spec — see the SET TBLPROPERTIES path); the version is the
    // ACTUAL commit version per rebase attempt, not the snapshot guess
    val ictEnabling =
      configuration.get("delta.enableInCommitTimestamps")
        .exists(_.equalsIgnoreCase("true")) &&
      !snap.metadata.configuration.get("delta.enableInCommitTimestamps")
        .exists(_.equalsIgnoreCase("true")) &&
      !configuration.contains("delta.inCommitTimestampEnablementVersion")
    val ictTs = if (ictEnabling) Some(nextIct(spark, tablePath)) else None
    def metaFor(v: Long): Metadata =
      if (!ictEnabling) meta
      else meta.copy(configuration = configuration ++ Map(
        "delta.inCommitTimestampEnablementVersion" -> v.toString,
        "delta.inCommitTimestampEnablementTimestamp" -> ictTs.get.toString))
    commitWithRebaseVersioned(spark, tablePath, snap.segment,
      parent => protoAction ++ Seq(metadataJson(metaFor(parent.version + 1))) ++
        clusterActions ++ removes ++ adds.map(addJson),
      operation = "REPLACE TABLE AS SELECT",
      profile = ConflictChecker.TxnProfile(
        readPaths = oldPaths.toSet, removePaths = oldPaths.toSet,
        dependsOnNewData = true))
  }

  /** SetTransaction version for `appId` from the LATEST txn action in
    * log order — per the protocol, not max(txn.version): a writer that
    * restarts with a fresh sink checkpoint records a lower version later
    * and that action wins (mirrors the checkpoint retention rule). */
  def latestTxnVersion(spark: SparkSession, tablePath: String,
      appId: String): Option[Long] =
    txnVersionIn(spark, LogSegment.forTable(spark, new Path(tablePath)), appId)

  /** From the replay state the cache holds for `segment` (its latest
    * txn per appId, no Spark job), else one query over the segment. */
  private def txnVersionIn(spark: SparkSession, segment: LogSegment,
      appId: String): Option[Long] = Replay.cachedState(spark, segment) match {
    case Some(s) =>
      s.txns.find(_.getString(0) == appId).filterNot(_.isNullAt(1))
        .map(_.getLong(1))
    case None =>
      val rows = Replay.actionsDF(spark, segment)
        .where(col("txn.appId") === appId)
        .orderBy(col("commit_version").desc, col("txn.version").desc)
        .select(col("txn.version").as("v"))
        .limit(1)
        .collect()
      rows.headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
  }

  def txnJson(t: SetTransaction): String = {
    val root = mapper.createObjectNode()
    val n = root.putObject("txn")
    n.put("appId", t.appId)
    n.put("version", t.version)
    t.lastUpdated.foreach(v => n.put("lastUpdated", v))
    root.toString
  }

  /** Enable row tracking on an EXISTING table with ONE metadata-only
    * commit — no data rewrite: every live file's baseRowId is
    * backfilled from its stats row count (a remove+re-add swap with
    * dataChange=false, the OPTIMIZE bookkeeping shape), its
    * defaultRowCommitVersion set to the commit that originally added
    * it, the features declared, the high-water mark published, and the
    * property flipped — all atomically. This is what lets a 100 TB
    * table adopt row tracking for the cost of its file inventory (one
    * commit row per file, the same bound as any full-table operation's
    * JSON); checkpoint afterwards to fold the swap into parquet.
    * Files that already carry a baseRowId (a re-enable after a
    * disable) keep their ids. */
  def enableRowTracking(spark: SparkSession, tablePath: String,
      extraProps: Map[String, String] = Map.empty): Long = {
    val segment = LogSegment.forTable(spark, new Path(tablePath))
    val (meta, proto) = Replay.metadataAndProtocol(spark, segment)
    ProtocolSupport.assertWritable(tablePath, meta, proto)
    val live = Replay.liveFiles(spark, segment)
      .orderBy("path").collect()
    val noStats = live.filter { r =>
      r.isNullAt(r.fieldIndex("baseRowId")) &&
        numRecords(Option(r.getAs[String]("stats"))).isEmpty
    }
    require(noStats.isEmpty,
      s"cannot enable row tracking: ${noStats.length} live file(s) lack " +
        s"numRecords stats (e.g. '${noStats.headOption
          .map(_.getAs[String]("path")).getOrElse("")}') — ids are " +
        "backfilled from file row counts; rewrite those files first " +
        "(OPTIMIZE)")
    var next = RowTracking.highWaterMark(spark, segment)
    val now = System.currentTimeMillis()
    val swaps = Seq.newBuilder[String]
    def dvOf(r: Row): Option[DeletionVectorDescriptor] =
      Option(r.getAs[Row]("deletionVector")).map { d =>
        DeletionVectorDescriptor(
          d.getAs[String]("storageType"),
          d.getAs[String]("pathOrInlineDv"),
          Option(d.getAs[java.lang.Integer]("offset")).map(_.intValue()),
          d.getAs[Int]("sizeInBytes"),
          d.getAs[Long]("cardinality"))
      }
    live.foreach { r =>
      val existing = Option(r.getAs[java.lang.Long]("baseRowId"))
      val base = existing.map(_.longValue()).getOrElse(next)
      val rows = numRecords(Option(r.getAs[String]("stats"))).getOrElse(0L)
      if (existing.isEmpty) {
        next = base + rows
        swaps += removeJson(RemoveFile(r.getAs[String]("path"), Some(now),
          dataChange = false, deletionVector = dvOf(r)))
        swaps += addJson(AddFile(
          path = r.getAs[String]("path"),
          partitionValues =
            Option(r.getAs[Map[String, String]]("partitionValues"))
              .getOrElse(Map.empty),
          size = r.getAs[Long]("size"),
          modificationTime = r.getAs[Long]("modificationTime"),
          dataChange = false,
          stats = Option(r.getAs[String]("stats")),
          deletionVector = dvOf(r),
          baseRowId = Some(base),
          defaultRowCommitVersion =
            Some(r.getAs[Long]("commit_version"))))
      } else next = math.max(next, base + rows)
    }
    val newMeta = meta.copy(configuration =
      meta.configuration ++ extraProps + (RowTracking.PropKey -> "true"))
    val protoUpgrade = ProtocolSupport.withRowTracking(proto)
      .map(protocolJson).toSeq
    // an empty table allocated nothing: publishing a mark would CLAIM
    // an id that no row holds
    val domainAction =
      if (next > 0) Seq(RowTracking.domainJson(next - 1)) else Seq.empty
    commit(spark, tablePath, segment.version + 1,
      protoUpgrade ++ (metadataJson(newMeta) +: domainAction) ++
        swaps.result(),
      operation = "SET TBLPROPERTIES")
    segment.version + 1
  }

  def domainMetadataJson(d: DomainMetadata): String = {
    val root = mapper.createObjectNode()
    val n = root.putObject("domainMetadata")
    n.put("domain", d.domain)
    n.put("configuration", d.configuration)
    n.put("removed", d.removed)
    root.toString
  }

  /** Commit a metadata change (schema evolution): next commit carries a
    * new metaData action (plus optional adds). */
  def commitMetadata(spark: SparkSession, tablePath: String,
      newMeta: Metadata, extraActions: Seq[String] = Seq.empty): Long =
    commitMetadataAt(spark, tablePath, _ => newMeta, extraActions)

  /** [[commitMetadata]] variant for metadata whose CONTENT depends on
    * the version it lands at (e.g. typeWidening's `tableVersion`
    * provenance field): `build` receives the actual target version,
    * resolved from the same log segment the commit targets — a
    * caller-side `snap.version + 1` can be stale by the time the commit
    * resolves, and `commit` never lands anywhere other than the version
    * passed (a concurrent steal throws), so the value handed to `build`
    * is exact whenever the commit succeeds.
    *
    * @param expectedCurrentVersion the snapshot version the caller
    *   DERIVED its metadata from. A metaData action replaces the
    *   schema wholesale, so a commit interleaving between the caller's
    *   resolve and this one would be silently reverted by metadata
    *   built from the stale snapshot; on mismatch this throws
    *   [[ConcurrentCommitException]] so the caller re-resolves and
    *   re-derives instead of clobbering. */
  def commitMetadataAt(spark: SparkSession, tablePath: String,
      build: Long => Metadata,
      extraActions: Seq[String] = Seq.empty,
      expectedCurrentVersion: Option[Long] = None): Long = {
    val segment = LogSegment.forTable(spark, new Path(tablePath))
    // gate on the CURRENT state: a metadata-only commit to a table whose
    // writer features this engine doesn't maintain is still non-compliant
    val (meta, proto) = Replay.metadataAndProtocol(spark, segment)
    ProtocolSupport.assertWritable(tablePath, meta, proto)
    for (expected <- expectedCurrentVersion if expected != segment.version)
      throw new ConcurrentCommitException(
        s"table $tablePath advanced from version $expected to " +
          s"${segment.version} since the metadata change was derived — " +
          "re-resolve and retry (committing would revert the " +
          "interleaved change)", null)
    val v = segment.version + 1
    commit(spark, tablePath, v, metadataJson(build(v)) +: extraActions,
      operation = "CHANGE SCHEMA")
    v
  }

  /** Remove files (by relative path) as the next commit. */
  def commitRemoves(spark: SparkSession, tablePath: String,
      paths: Seq[String]): Long = {
    val segment = LogSegment.forTable(spark, new Path(tablePath))
    val (meta, proto) = Replay.metadataAndProtocol(spark, segment)
    ProtocolSupport.assertWritable(tablePath, meta, proto,
      dataChangingRemoves = true)
    // on a DV table, each remove carries the removed version's
    // descriptor (protocol's remove.deletionVector — what lets VACUUM
    // LITE reclaim the DV file after checkpoints compact the add away).
    // The liveFiles lookup only runs when the feature is DECLARED; on a
    // small log it serves from the replay cache, on a large one it is
    // one distributed metadata job — the same cost class as the scan
    // any predicate-bearing remove writer (DELETE/UPDATE) already pays
    val dvByPath: Map[String, Actions.DeletionVectorDescriptor] =
      if (ProtocolSupport.withDeletionVectors(proto).isDefined) Map.empty
      else {
        import org.apache.spark.sql.functions.{broadcast, col}
        // semi-join against a broadcast of the remove paths, not an
        // isin(...) In-literal: the latter is an O(paths) expression
        // tree built on the driver (the plan shape PlanAuditSpec bans
        // for MERGE's file filter) and a large commitRemoves call
        // would regress to a huge driver-side plan
        val wanted = spark.createDataset(paths)(
          org.apache.spark.sql.Encoders.STRING).toDF("path")
        Replay.liveFiles(spark, segment)
          .where(col("deletionVector").isNotNull)
          .join(broadcast(wanted), Seq("path"), "left_semi")
          .select("path", "deletionVector")
          .collect()
          .flatMap(r => graft.commands.DmlCommands.dvDescriptorOf(r)
            .map(r.getString(0) -> _))
          .toMap
      }
    val v = segment.version + 1
    val now = System.currentTimeMillis()
    commit(spark, tablePath, v,
      paths.map(p => removeJson(RemoveFile(p, Some(now), dataChange = true,
        deletionVector = dvByPath.get(p)))),
      operation = "DELETE")
    v
  }

  /** `delta.appendOnly=true` tables refuse data-changing removes —
    * enforced at the single commit choke point so DELETE/UPDATE/MERGE,
    * overwrite, RESTORE, and raw commitRemoves all hit the same wall.
    * OPTIMIZE passes: its removes carry dataChange=false (a compaction
    * rewrites bytes, not data). Checked only when a remove is present,
    * so append commits pay nothing. */
  private def enforceAppendOnly(spark: SparkSession, tablePath: String,
      actionLines: Seq[String]): Unit = {
    val hasDataRemove = actionLines.exists { l =>
      l.contains("\"remove\"") && {
        val n = mapper.readTree(l)
        n.has("remove") && dataChange(n.get("remove"))
      }
    }
    if (hasDataRemove) {
      // fail CLOSED: if the snapshot cannot be loaded the commit must
      // not proceed anyway — swallowing the error here would let a
      // remove land on an append-only table exactly when the log is
      // unhealthy. (forPath resolves metadata/protocol only — no file
      // replay — so this costs one cached segment resolution.)
      val cfg = graft.delta.DeltaTable.forPath(spark, tablePath)
        .metadata.configuration
      require(!cfg.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")),
        s"$tablePath is append-only (delta.appendOnly=true): " +
          "DELETE/UPDATE/MERGE/overwrite/RESTORE are not allowed")
    }
  }

  /** Per-table write-path memo (ICT flag + checkpoint policy for the
    * NEXT commit): the state for version N+1 is known the moment
    * version N lands (this process wrote it), so sequential
    * appends/DML pay the log listing + metadata replay once, not per
    * commit. Keying by the exact version keeps it safe under
    * concurrent external writers: if another engine steals version
    * N+1, our retry at N+2 misses the memo and re-resolves. The entry
    * also pins the CONTENT HASH of the commit file this process wrote:
    * a table deleted and recreated out-of-band can realign version
    * numbers — and a deterministic recreation can even reproduce the
    * parent's byte length and mtime window, which is why a (size,
    * mtime) stat is not identity — so a memo hit re-reads that one
    * known file (bounded: a single commit's bytes, far cheaper than a
    * log listing + replay) and falls back to a full resolve whenever
    * the bytes changed. Content equality subsumes a metadata.id check:
    * the id lives IN those bytes when the commit carries metadata, and
    * an unchanged parent pins the whole chain this process observed. */
  private case class WriteMemo(nextVersion: Long, conf: WriteConf,
      commitLen: Long, commitSha: String)
  private val ictFlagCache =
    new java.util.concurrent.ConcurrentHashMap[String, WriteMemo]()

  /** The table state a landing commit needs from the log: whether
    * commits carry in-commit timestamps, how often to auto-checkpoint,
    * and whether the table opted into post-commit auto-compaction. */
  private case class WriteConf(ict: Boolean, checkpointInterval: Int,
      autoCompact: Boolean = false, logCompactionInterval: Int = 0)

  /** Resolve [[WriteConf]] for the commit landing at `version`: start
    * from the current log state (memo hit, else one resolve; creation
    * commits start from defaults), then overlay the commit's own
    * inline metaData action — it replaces `configuration` wholesale,
    * so the overlay IS the post-commit state. */
  private def resolveWriteConf(spark: SparkSession, tablePath: String,
      version: Long,
      inlineMeta: Option[com.fasterxml.jackson.databind.JsonNode])
      : WriteConf = {
    val base: WriteConf =
      if (version == 0) WriteConf(ict = false, DefaultCheckpointInterval)
      else Option(ictFlagCache.get(tablePath)).collect {
        case m if m.nextVersion == version &&
            parentMatches(spark, tablePath, version, m) => m.conf
      }.getOrElse {
        val segment = LogSegment.forTable(spark, new Path(tablePath))
        confOf(Replay.metadataAndProtocol(spark, segment)._1.configuration)
      }
    inlineMeta.fold(base) { md =>
      val cfg = Option(md.get("configuration")).map(c =>
        c.properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty[String, String])
      base.copy(ict = ictFrom(cfg), checkpointInterval = intervalFrom(cfg),
        autoCompact = autoCompactFrom(cfg),
        logCompactionInterval = LogCompaction.intervalFrom(cfg))
    }
  }

  private def confOf(cfg: Map[String, String]): WriteConf =
    WriteConf(ictFrom(cfg), intervalFrom(cfg), autoCompactFrom(cfg),
      LogCompaction.intervalFrom(cfg))

  /** `delta.autoOptimize.autoCompact` (the ecosystem-standard table
    * property): opt-in post-commit small-file compaction. */
  final val AutoCompactPropKey = "delta.autoOptimize.autoCompact"
  /** `delta.autoOptimize.optimizeWrite`: opt-in pre-write rebalance of
    * partitioned writes (see writeFiles). */
  final val OptimizeWritePropKey = "delta.autoOptimize.optimizeWrite"
  private def autoCompactFrom(cfg: Map[String, String]): Boolean =
    cfg.get(AutoCompactPropKey).exists(_.equalsIgnoreCase("true"))

  private def ictFrom(cfg: Map[String, String]): Boolean =
    cfg.get("delta.enableInCommitTimestamps")
      .exists(_.equalsIgnoreCase("true"))

  /** `delta.checkpointInterval`, tolerating foreign-writer garbage on
    * this READ path (property validation belongs at the write that
    * sets it; a malformed value must not brick every future commit). */
  private def intervalFrom(cfg: Map[String, String]): Int =
    cfg.get(CheckpointIntervalPropKey)
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ > 0).getOrElse(DefaultCheckpointInterval)

  /** True when commit file `version - 1` still holds the exact bytes
    * the memo recorded — guards the memo against a table deleted and
    * recreated out-of-band with realigned version numbers. Length
    * mismatches reject without reading; otherwise the file is re-read
    * and hashed (one small known file — no listing, no replay). */
  private def parentMatches(spark: SparkSession, tablePath: String,
      version: Long, m: WriteMemo): Boolean = {
    val fs = LogSegment.fs(spark, new Path(tablePath))
    val prev = new Path(new Path(tablePath, "_delta_log"),
      LogSegment.commitFileName(version - 1))
    try {
      if (fs.getFileStatus(prev).getLen != m.commitLen) return false
      val in = fs.open(prev)
      val bytes = try in.readAllBytes() finally in.close()
      sha256(bytes) == m.commitSha
    } catch {
      // ANY read failure (gone, throttled, truncated) falls back to a
      // full resolve — the memo is an optimization, never a gate
      case _: java.io.IOException => false
    }
  }

  private def sha256(bytes: Array[Byte]): String = Digests.sha256Hex(bytes)

  /** The in-commit timestamp the NEXT commit to this table will carry —
    * used by the ICT enablement path to record matching
    * `delta.inCommitTimestampEnablement*` properties. */
  def nextIct(spark: SparkSession, tablePath: String): Long = {
    val segment = LogSegment.forTable(spark, new Path(tablePath))
    val fs = LogSegment.fs(spark, new Path(tablePath))
    val logPath = new Path(new Path(tablePath), "_delta_log")
    math.max(System.currentTimeMillis(),
      parentIct(fs, logPath, segment.version + 1).map(_ + 1)
        .getOrElse(Long.MinValue))
  }

  /** The parent commit's inCommitTimestamp (for monotonicity). */
  private def parentIct(fs: org.apache.hadoop.fs.FileSystem,
      logPath: Path, version: Long): Option[Long] = {
    if (version == 0) return None
    val prev = new Path(logPath, LogSegment.commitFileName(version - 1))
    if (!fs.exists(prev)) return None // checkpointed-away parent
    LogSegment.inCommitTimestamp(fs, prev)
  }

  /** Write the action lines of `version` atomically (create-no-overwrite,
    * the A22 semantics).
    *
    * @param operationParameters free-form commitInfo parameters, the
    *   ecosystem-standard operation metadata (predicates, merge keys).
    *   The derived change feed uses a recorded `mergeKeys` entry to
    *   pair a MERGE commit's update pre/post images — without it (e.g.
    *   a foreign writer) those rows keep insert/delete labels. */
  def commit(spark: SparkSession, tablePath: String, version: Long,
      actionLines: Seq[String], operation: String,
      operationParameters: Map[String, String] = Map.empty): Unit = {
    if (version > 0) enforceAppendOnly(spark, tablePath, actionLines)
    val logPath = new Path(new Path(tablePath), "_delta_log")
    val fs = LogSegment.fs(spark, new Path(tablePath))
    fs.mkdirs(logPath)
    val commitPath = new Path(logPath, LogSegment.commitFileName(version))
    val info = mapper.createObjectNode()
    val ci = info.putObject("commitInfo")
    ci.put("timestamp", System.currentTimeMillis())
    ci.put("operation", operation)
    ci.put("engineInfo", "graft/0.1.0")
    if (operationParameters.nonEmpty) {
      val op = ci.putObject("operationParameters")
      operationParameters.foreach { case (k, v) => op.put(k, v) }
    }
    val inlineMeta = actionLines.filter(_.contains("\"metaData\""))
      .flatMap(l => Option(mapper.readTree(l).get("metaData"))).lastOption
    val conf = resolveWriteConf(spark, tablePath, version, inlineMeta)
    val ictOn = conf.ict
    if (ictOn) {
      // monotonic even under wall-clock skew: never at or below the
      // parent's ICT. commitInfo is already the FIRST action, as the
      // inCommitTimestamp spec requires. An enablement commit (property
      // flip mid-life) declares its own ICT in the metadata properties
      // — that declared value IS this commit's timestamp so the two
      // never diverge.
      val declared = inlineMeta
        .flatMap(md => Option(md.get("configuration")))
        .filter(c => Option(
          c.get("delta.inCommitTimestampEnablementVersion"))
          .exists(_.asText().toLong == version))
        .flatMap(c => Option(
          c.get("delta.inCommitTimestampEnablementTimestamp"))
          .map(_.asText().toLong))
      val ict = math.max(
        declared.getOrElse(System.currentTimeMillis()),
        parentIct(fs, logPath, version).map(_ + 1).getOrElse(Long.MinValue))
      ci.put("inCommitTimestamp", ict)
    }
    val payload = (info.toString +: actionLines).mkString("", "\n", "\n")
    val payloadBytes = payload.getBytes("UTF-8")
    if (!putIfAbsent(fs, commitPath, payloadBytes)) {
      ictFlagCache.remove(tablePath) // another writer owns the state
      throw new ConcurrentCommitException(version, null)
    }
    // this commit defines the table state the NEXT commit reads: seed
    // the memo so sequential writes skip the metadata re-resolution
    // (an inline metaData action replaces configuration wholesale, so
    // `conf` is the post-commit state in every branch)
    ictFlagCache.put(tablePath, WriteMemo(version + 1, conf,
      payloadBytes.length.toLong, sha256(payloadBytes)))
    maybeAutoCheckpoint(spark, tablePath, version, conf)
    // no compaction at an auto-checkpoint version: the checkpoint
    // collapsed the tail, so a span ending here is dead on arrival
    if (version % conf.checkpointInterval != 0)
      LogCompaction.maybeCompact(spark, tablePath, version,
        conf.logCompactionInterval)
    maybeAutoCompact(spark, tablePath, version, conf, operation, actionLines)
  }

  /** Publish `bytes` at `path` only if nothing is there yet — the
    * put-if-absent primitive behind every commit and log compaction.
    * Returns false when the path already exists (another writer won);
    * any other storage failure throws. Readers never observe a
    * partially written file.
    *
    * Hadoop's LocalFileSystem.create(path, overwrite=false) is
    * check-then-create: two racing writers can both pass the check and
    * the second silently overwrites the first (caught by the 8-thread
    * stress test). Local paths therefore write a temp file fully and
    * hard-link it into place — link(2) fails with EEXIST atomically at
    * the kernel, so exactly one writer wins. Other stores rely on the
    * filesystem's create-no-overwrite, which HDFS enforces at the
    * namenode. */
  private[log] def putIfAbsent(fs: FileSystem, path: Path,
      bytes: Array[Byte]): Boolean = {
    val uri = fs.makeQualified(path).toUri
    if (uri.getScheme == "file") {
      import java.nio.file.{Files, Paths, FileAlreadyExistsException}
      val target = Paths.get(uri.getPath)
      val tmp = target.resolveSibling(
        s".${target.getFileName}.${UUID.randomUUID().toString.take(8)}.tmp")
      Files.write(tmp, bytes)
      try { Files.createLink(target, tmp); true }
      catch { case _: FileAlreadyExistsException => false }
      finally Files.deleteIfExists(tmp)
    } else {
      val out = try fs.create(path, false) catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
        case _: java.io.IOException if fs.exists(path) => return false
      }
      try out.write(bytes) finally out.close()
      true
    }
  }

  /** Session knobs for auto-compaction (delta-spark parity defaults:
    * a partition qualifies at 50 small files; "small" and the rewrite
    * target are both 128 MiB). */
  private def autoCompactMinNumFiles(spark: SparkSession): Int =
    spark.conf.getOption("spark.lakehouse.autoCompact.minNumFiles")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ > 0).getOrElse(50)
  private def autoCompactMaxFileSize(spark: SparkSession): Long =
    spark.conf.getOption("spark.lakehouse.autoCompact.maxFileSize")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .filter(_ > 0).getOrElse(128L * 1024 * 1024)

  private val inAutoCompact = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  /** Post-commit auto-compaction (`delta.autoOptimize.autoCompact`):
    * after a data-adding commit, partitions holding >= minNumFiles
    * small files compact via the normal OPTIMIZE path (dataChange=false
    * rewrite, conflict-checked rebase — racing appends are never
    * blocked). Without it a streaming-ingest table accumulates one tiny
    * file per micro-batch and every reader's scan degrades. The commit
    * already landed, so a compaction failure is logged and swallowed.
    * Skips (rather than throws) on tables OPTIMIZE refuses —
    * row-tracked, clustered (the clustering policy owns layout; run
    * OPTIMIZE explicitly to re-cluster). */
  private def maybeAutoCompact(spark: SparkSession, tablePath: String,
      version: Long, conf: WriteConf, operation: String,
      actionLines: Seq[String]): Unit =
    if (conf.autoCompact && version > 0 && operation != "OPTIMIZE" &&
        !inAutoCompact.get() &&
        // exact add detection: substring pre-filter, then a real parse
        // of the candidate line — a property VALUE containing "add"
        // must not read as a data commit. Short-circuits on the first
        // true add line of a data commit.
        actionLines.exists(l =>
          l.contains("\"add\"") && mapper.readTree(l).has("add"))) {
      inAutoCompact.set(true)
      try {
        val snap = graft.delta.DeltaTable.forPath(spark, tablePath)
        val eligible =
          !RowTracking.enabled(snap.metadata) &&
          Clustering.columnsOf(spark, snap.segment).isEmpty
        if (eligible)
          graft.commands.OptimizeCommand.optimize(spark, tablePath,
            targetFileSize = autoCompactMaxFileSize(spark),
            minFiles = autoCompactMinNumFiles(spark),
            snapOpt = Some(snap)) // one resolve, not two, per commit
      } catch {
        case scala.util.control.NonFatal(e) =>
          maintenanceFailed("auto-compact", tablePath, version, e)
      } finally inAutoCompact.set(false)
    }

  private val log = org.slf4j.LoggerFactory.getLogger(
    getClass.getName.stripSuffix("$"))

  /** Post-commit maintenance (auto-checkpoint, log compaction,
    * auto-compaction) runs after its commit landed, so a failure is
    * logged as a WARN naming the table, the version and the exception,
    * and swallowed: the table stays correct, only the maintenance is
    * deferred. */
  private[log] def maintenanceFailed(task: String, tablePath: String,
      version: Long, e: Throwable): Unit =
    log.warn(s"$task of $tablePath at v$version failed (the commit " +
      "itself is unaffected)", e)

  /** `delta.checkpointInterval` (default 10, the delta-spark default):
    * auto-checkpoint cadence in commits. */
  final val CheckpointIntervalPropKey = "delta.checkpointInterval"
  final val DefaultCheckpointInterval = 10

  /** Ecosystem-parity auto-checkpointing: every `checkpointInterval`
    * commits the committing writer checkpoints the table in the format
    * its protocol declares, which also triggers the expired-log sweep —
    * without it a streaming-ingest table accumulates one JSON per
    * micro-batch forever and every reader's log listing degrades. The
    * commit has already landed, so a checkpoint failure is logged and
    * swallowed: the table stays correct (replay falls back to the
    * previous checkpoint + commit tail), only the maintenance is
    * deferred. Under racing writers the checkpoint targets the current
    * tip — that is delta-spark's semantics too, and a
    * concurrent-checkpoint rename collision just means the other writer
    * already did it. */
  private def maybeAutoCheckpoint(spark: SparkSession, tablePath: String,
      version: Long, conf: WriteConf): Unit =
    if (version > 0 && version % conf.checkpointInterval == 0) {
      // parts = -1: the checkpoint sizes its own artifact (one part per
      // ~100k file actions) from the replay it performs anyway — no
      // extra snapshot resolution on the commit path
      try checkpoint(spark, tablePath, parts = -1)
      catch {
        case scala.util.control.NonFatal(e) =>
          maintenanceFailed("auto-checkpoint", tablePath, version, e)
      }
    }

  /** ~100k add rows per checkpoint part, capped at 64 parts (beyond
    * that, per-part scheduling overhead beats the parallelism). */
  final val AutoCheckpointRowsPerPart = 100000L
  private[delta] def autoCheckpointParts(nFiles: Long): Int =
    math.min(64L, nFiles / AutoCheckpointRowsPerPart + 1).toInt

  /** Write a checkpoint at the current version and update
    * `_last_checkpoint`, in the format the table's protocol declares.
    *
    * Per the Delta protocol a checkpoint is a complete replay state, not
    * just the live files: it also carries the latest SetTransaction per
    * appId (so idempotent writers stay exactly-once across checkpoints)
    * and remove tombstones newer than the retention window (so VACUUM /
    * incremental readers over the checkpoint keep tombstone visibility).
    *
    * Formats:
    *  - classic (no `v2Checkpoint` feature): one
    *    `<v>.checkpoint.parquet`, or a multi-part set
    *    `<v>.checkpoint.<i>.<n>.parquet`. Part renames are not atomic as
    *    a set, but readers ignore a version whose part count does not
    *    match the filename-declared total.
    *  - v2 (the table declares `v2Checkpoint`; Delta PROTOCOL "V2 spec
    *    checkpoints"): file actions (adds + unexpired remove tombstones)
    *    land in UUID-named parquet sidecars under `_delta_log/_sidecars/`;
    *    the top-level `<v>.checkpoint.<uuid>.parquet` manifest carries
    *    only checkpointMetadata, the sidecar references and the non-file
    *    actions (protocol/metaData/txn/domainMetadata). A classic
    *    checkpoint on such a table would be a non-compliant artifact
    *    other readers could prefer over the real one, so it never gets
    *    one.
    * Parts or sidecars publish first, then the manifest, then
    * `_last_checkpoint`, so a crash at any point leaves the previous
    * checkpoint + commit tail authoritative (unreferenced sidecars and
    * incomplete part sets are garbage, not corruption).
    *
    * Source: a checkpoint is a materialized log replay (Delta Lake,
    * VLDB 2020, §3.1). When [[Replay.cachedState]] holds the segment's
    * replay state (caching on, a small log, a bounded file count), the
    * rows come from it on the driver and the write is the only Spark
    * job; otherwise [[checkpointRows]] replays distributed. Once every
    * artifact is published, [[Replay.handOff]] keys the caches to the
    * new checkpoint, so the next read is not a full replay.
    *
    * @param parts parquet files for the checkpoint's rows (classic) or
    *   file actions (v2 sidecars); default 1, -1 = auto-size from the
    *   live-file count ([[autoCheckpointParts]] — ~100k add rows per
    *   part). At 100 TB a checkpoint holds millions of add rows — parts
    *   let it write AND later replay fully distributed instead of
    *   through one task. */
  def checkpoint(spark: SparkSession, tablePath: String,
      parts: Int = 1): Long = {
    val segment = LogSegment.forTable(spark, new Path(tablePath))
    val (meta, proto) = Replay.metadataAndProtocol(spark, segment)
    // a checkpoint REWRITES replay state: unknown protocol features may
    // carry actions this replay doesn't model (e.g. rowTracking's
    // domainMetadata), and a checkpoint that drops them corrupts the
    // table — same fail-closed gate as data writes
    ProtocolSupport.assertWritable(tablePath, meta, proto)
    // the replay state the cache holds at this version is the
    // checkpoint's content: write it from the driver; without one,
    // replay distributed
    val state = Replay.cachedState(spark, segment)
    val cutoff = tombstoneCutoff(meta)
    val (fileRows, nonFileRows) = state match {
      case Some(s) => stateRows(spark, s, cutoff, meta, proto)
      case None => checkpointRows(spark, segment, cutoff, meta, proto)
    }
    val n =
      if (parts != -1) parts
      else autoCheckpointParts(state.fold(
        fileRows.where(col("add").isNotNull).count())(_.adds.length.toLong))
    val fs = LogSegment.fs(spark, segment.tablePath)
    val logPath = segment.logPath
    val v = segment.version
    val v2 = proto.writerFeatures.getOrElse(Nil).contains("v2Checkpoint")
    val (published, sidecars) =
      if (v2) {
        val sidecarDir = new Path(logPath, "_sidecars")
        fs.mkdirs(sidecarDir)
        val sidecars = stageAndPublish(fs, logPath, fileRows, n)((_, _) =>
          new Path(sidecarDir, s"${UUID.randomUUID()}.parquet"))
        (sidecars ++ stageAndPublish(fs, logPath,
          v2Manifest(spark, fs, v, sidecars, nonFileRows), 1)((_, _) =>
            new Path(logPath, f"$v%020d.checkpoint.${UUID.randomUUID()}.parquet")),
          sidecars)
      } else {
        (stageAndPublish(fs, logPath, fileRows.unionByName(nonFileRows), n) {
          case (_, 1) => new Path(logPath, LogSegment.checkpointFileName(v))
          // the total is the ACTUAL part count (parquet may merge small
          // partitions), so the reader's completeness check matches
          case (i, total) => new Path(logPath,
            f"$v%020d.checkpoint.${i + 1}%010d.$total%010d.parquet")
        }, Seq.empty[Path])
      }

    // size = every action row in the artifact (for v2: sidecar file
    // actions + ALL manifest rows, checkpointMetadata and sidecar
    // references included), read from the written parquet footers
    // instead of re-running the replay that produced the rows
    val lc = mapper.createObjectNode()
    lc.put("version", v)
    lc.put("size", published.map(parquetRowCount(fs, _)).sum)
    if (!v2 && published.length > 1) lc.put("parts", published.length)
    val out = fs.create(new Path(logPath, "_last_checkpoint"), true)
    try out.write(lc.toString.getBytes("UTF-8")) finally out.close()

    // published in full: the checkpoint files a listing resolves at v
    // (the parts in name order, or the v2 manifest) take over the state
    val cpFiles = (if (v2) published.takeRight(1) else published)
      .map(fs.getFileStatus)
    Replay.handOff(spark, segment, cpFiles, cutoff, meta, proto,
      sidecars.map(_.toString))

    sweepStaleTemps(fs, logPath)
    maybeCleanupExpiredLogs(spark, tablePath, meta)
    v
  }

  /** `delta.logRetentionDuration` (default 30 days): how long superseded
    * log files stay reconstructable for time travel after a checkpoint. */
  final val LogRetentionPropKey = "delta.logRetentionDuration"
  final val DefaultLogRetentionMs: Long = 30L * 24 * 3600 * 1000

  /** Post-checkpoint log cleanup, on by default per
    * `delta.enableExpiredLogCleanup` (the ecosystem-standard knob). */
  private def maybeCleanupExpiredLogs(spark: SparkSession,
      tablePath: String, meta: Metadata): Unit =
    if (!meta.configuration.get("delta.enableExpiredLogCleanup")
        .exists(_.equalsIgnoreCase("false")))
      cleanupExpiredLogs(spark, tablePath, metaOpt = Some(meta))

  /** Delete expired log files superseded by a checkpoint — without
    * this, `_delta_log` grows one JSON per commit forever, and at
    * 100 TB scale (thousands of commits/day under streaming ingest +
    * compaction) the log listing itself becomes the bottleneck every
    * reader pays.
    *
    * Safety invariant: every version whose reconstruction path has ANY
    * unexpired file stays reconstructable. The deletion set is the
    * strict PREFIX below a horizon H, where H is the highest COMPLETE
    * checkpoint version such that every log file below H has cleared
    * `delta.logRetentionDuration` (default 30 days). Deleting exactly
    * that prefix keeps checkpoint H plus the full commit tail, so every
    * version >= H — including versions whose checkpoint was not the
    * latest — still resolves; versions below H were reconstructable
    * only through files that are ALL out of retention. A per-file
    * expiry cut (delete everything expired below the latest checkpoint)
    * would be wrong in exactly this case: with checkpoints at 60 and 90
    * and the expiry boundary at commit 65, it would delete checkpoint
    * 60 and commits 0-65 while 66-89 are still in retention — versions
    * 66-89 would survive as files yet be unreconstructable. The horizon
    * rule instead stops at H=60 until the whole prefix expires. A
    * rewritten/young file below a candidate H likewise blocks promotion
    * past it (mtime holes fail safe).
    *
    * Checkpoint completeness (all parts of a multi-part set) is checked
    * from the listing — a dangling `_last_checkpoint` pointer or a
    * half-published checkpoint can never become the only surviving
    * reconstruction path. V2 sidecars are kept while any retained
    * manifest references them (an expired, unreferenced sidecar is an
    * orphan). Time travel below the horizon fails with an error naming
    * the earliest reconstructable version (LogSegment's gap hint).
    *
    * Driver-side by design: the file count is bounded by commits since
    * the previous cleanup, the same order as the log listing every
    * snapshot already performs.
    *
    * @return number of files deleted */
  def cleanupExpiredLogs(spark: SparkSession, tablePath: String,
      retentionMsOverride: Option[Long] = None,
      metaOpt: Option[Metadata] = None): Int = {
    val table = new Path(tablePath)
    val fsys = LogSegment.fs(spark, table)
    val logPath = new Path(table, "_delta_log")
    val meta = metaOpt.getOrElse {
      val segment = LogSegment.forTable(spark, table)
      Replay.metadataAndProtocol(spark, segment)._1
    }
    val retentionMs = retentionMsOverride
      .orElse(meta.configuration.get(LogRetentionPropKey)
        .map(graft.commands.VacuumCommand.parseInterval))
      .getOrElse(DefaultLogRetentionMs)
    val cutoff = System.currentTimeMillis() - retentionMs
    val entries = fsys.listStatus(logPath).toSeq.filterNot(_.isDirectory)

    val versioned: Seq[(Long, org.apache.hadoop.fs.FileStatus)] =
      entries.flatMap { st =>
        val n = st.getPath.getName
        LogSegment.commitVersion(n)
          .orElse(LogSegment.checkpointArtifactVersion(n))
          // a compaction is reconstruction-redundant; it expires with
          // the END of its span (the last version it could stand in for)
          .orElse(LogSegment.compactedRange(n).map(_._2))
          .map(v => (v, st))
      }
    val complete = LogSegment
      .completeCheckpointVersions(entries.map(_.getPath.getName))
    // horizon: highest complete checkpoint with a fully-expired prefix
    val horizon = complete.toSeq
      .filter(x => versioned.forall { case (v, st) =>
        v >= x || st.getModificationTime < cutoff })
      .sorted.lastOption.getOrElse(return 0)

    val expiredPrefix = versioned.collect { case (v, st) if v < horizon => st }

    // sidecars referenced by any RETAINED v2 manifest must survive
    val retainedManifests = entries
      .filter(st => LogSegment.v2ManifestVersion(st.getPath.getName)
        .exists(_ >= horizon))
      .map(_.getPath.toString)
    val referenced: Set[String] =
      if (retainedManifests.isEmpty) Set.empty
      else {
        // one read per manifest format; a torn JSON manifest fails the
        // sweep rather than orphaning the sidecars it references
        val (pq, js) = retainedManifests.partition(_.endsWith(".parquet"))
        Seq(pq, js).filter(_.nonEmpty).flatMap(paths =>
          Replay.manifestDF(spark, paths)
            .where(col("sidecar.path").isNotNull)
            .select("sidecar.path").collect()
            .map(_.getString(0).split('/').last)).toSet
      }
    val sidecarDir = new Path(logPath, "_sidecars")
    val orphanSidecars =
      if (!fsys.exists(sidecarDir)) Seq.empty[org.apache.hadoop.fs.FileStatus]
      else fsys.listStatus(sidecarDir).toSeq.filter(st =>
        !st.isDirectory && !referenced(st.getPath.getName) &&
          st.getModificationTime < cutoff)

    val doomed = expiredPrefix ++ orphanSidecars
    doomed.foreach(st => fsys.delete(st.getPath, false))
    doomed.size
  }

  /** Complete replay-state rows for a checkpoint of `segment`, split as
    * (file actions [adds ∪ unexpired remove tombstones], non-file
    * actions [latest SetTransaction per appId + latest domainMetadata
    * per domain + metaData + protocol]) — both in logSchema column
    * shape, replayed distributed (the path where the state cache holds
    * no state; see [[stateRows]]). The split is what the V2 format
    * needs (file actions go to sidecars, the rest to the manifest);
    * classic checkpoints union the two. */
  private def checkpointRows(spark: SparkSession, segment: LogSegment,
      cutoff: Long, meta: Actions.Metadata, proto: Actions.Protocol)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val live = Replay.liveFiles(spark, segment)

    val nullAdd = lit(null).cast(Actions.addSchema)
    val nullRemove = lit(null).cast(Actions.removeSchema)
    val nullMeta = lit(null).cast(Actions.metaDataSchema)
    val nullProto = lit(null).cast(Actions.protocolSchema)
    val nullTxn = lit(null).cast(Actions.txnSchema)
    val nullDomain = lit(null).cast(Actions.domainMetadataSchema)

    // checkpoint actions carry dataChange=false per the protocol, so
    // incremental/CDC readers don't treat checkpoint contents as new
    // changes (graft's own replay ignores the flag; external interop)
    val addRows = live.select(struct(
      col("path"), col("partitionValues"), col("size"),
      col("modificationTime"), lit(false).as("dataChange"), col("stats"),
      col("deletionVector"), col("baseRowId"),
      col("defaultRowCommitVersion")).as("add"),
      nullRemove.as("remove"), nullMeta.as("metaData"),
      nullProto.as("protocol"), nullTxn.as("txn"),
      nullDomain.as("domainMetadata"))

    // latest SetTransaction per appId survives into the checkpoint —
    // latest in LOG ORDER (commit_version), per the protocol, NOT the
    // highest txn.version: a writer may legitimately restart with a
    // lower txn version (fresh sink checkpoint) and that later action
    // wins. txn.version desc is only a deterministic tiebreak within a
    // single commit, where line order is not recoverable from the DF.
    val txnRows = Replay.actionsDF(spark, segment)
      .where(col("txn").isNotNull)
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("txn.appId"))
        .orderBy(col("commit_version").desc, col("txn.version").desc)))
      .where(col("rn") === 1)
      .select(nullAdd.as("add"), nullRemove.as("remove"),
        nullMeta.as("metaData"), nullProto.as("protocol"), col("txn"),
        nullDomain.as("domainMetadata"))

    // latest domainMetadata per domain survives too (including removal
    // tombstones — replay over the checkpoint must agree with replay
    // over the full log about every domain's final state)
    val domainRows = Replay.latestDomainActions(spark, segment)
      .select(nullAdd.as("add"), nullRemove.as("remove"),
        nullMeta.as("metaData"), nullProto.as("protocol"),
        nullTxn.as("txn"), col("domainMetadata"))

    // unexpired remove tombstones (paths whose latest action is a remove
    // within the retention window) stay visible
    val removeRows = Replay.tombstones(spark, segment)
      .where(coalesce(col("remove.deletionTimestamp"), lit(Long.MaxValue))
        >= cutoff)
      .select(nullAdd.as("add"),
        col("remove").withField("dataChange", lit(false)).as("remove"),
        nullMeta.as("metaData"),
        nullProto.as("protocol"), nullTxn.as("txn"),
        nullDomain.as("domainMetadata"))

    (addRows.unionByName(removeRows),
      txnRows.unionByName(domainRows)
        .unionByName(logRows(spark, pmRows(meta, proto))))
  }

  /** [[checkpointRows]] from a driver-held [[Replay.ReplayState]]: the
    * same rows under the same rules (adds with dataChange=false,
    * tombstones inside the retention window, every txn and domain, P&M),
    * as local relations that cost no Spark job to build. */
  private def stateRows(spark: SparkSession, s: Replay.ReplayState,
      cutoff: Long, meta: Actions.Metadata, proto: Actions.Protocol)
      : (DataFrame, DataFrame) = {
    val adds = s.adds.toSeq.map(a => logRow(0, Row(a(0), a(1), a(2), a(3),
      false, a(5), a(6), a(7), a(8))))
    val removes = s.tombstonesSince(cutoff).toSeq
      .map(t => logRow(1, Row(t(0), t(1), false, t(3))))
    (logRows(spark, adds ++ removes), logRows(spark,
      s.txns.toSeq.map(logRow(4, _)) ++ s.domains.toSeq.map(logRow(5, _)) ++
        pmRows(meta, proto)))
  }

  /** A [[Actions.logSchema]] row carrying `action` in column `i`. */
  private def logRow(i: Int, action: Row): Row =
    Row.fromSeq(Seq.tabulate(Actions.logSchema.length)(j =>
      if (j == i) action else null))

  private def logRows(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Actions.logSchema)

  /** The metaData and protocol action rows of a checkpoint. */
  private def pmRows(m: Actions.Metadata, p: Actions.Protocol): Seq[Row] = Seq(
    logRow(2, Row(m.id, m.name.orNull, m.description.orNull,
      Row(m.format.provider, m.format.options), m.schemaString,
      m.partitionColumns, m.configuration, m.createdTime.map(Long.box).orNull)),
    logRow(3, Row(p.minReaderVersion, p.minWriterVersion,
      p.readerFeatures.orNull, p.writerFeatures.orNull)))

  /** Remove tombstones deleted at or after this instant stay in a
    * checkpoint and in the state it hands on (`delta.deletedFileRetentionDuration`, default 7 days). */
  private def tombstoneCutoff(meta: Actions.Metadata): Long =
    System.currentTimeMillis() - meta.configuration
      .get(graft.commands.VacuumCommand.RetentionPropKey)
      .map(graft.commands.VacuumCommand.parseInterval)
      .getOrElse(7L * 24 * 3600 * 1000)

  /** The one publish step of every checkpoint artifact: write `rows` as
    * up to `n` parquet files into a hidden staging dir, then rename each
    * into place at `target(index, total)`, where `total` is the number
    * of files that actually landed. Returns the published paths. The
    * staging dir is removed whether or not every rename succeeds. */
  private def stageAndPublish(fs: FileSystem, logPath: Path, rows: DataFrame,
      n: Int)(target: (Int, Int) => Path): Seq[Path] = {
    val staging = new Path(logPath,
      s".checkpoint_staging_${UUID.randomUUID().toString.take(8)}")
    try {
      (if (n <= 1) rows.coalesce(1) else rows.repartition(n))
        .write.mode("overwrite").parquet(staging.toString)
      val files = fs.listStatus(staging).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      if (files.isEmpty)
        throw new IllegalStateException(s"checkpoint write produced no parquet: $staging")
      files.zipWithIndex.map { case (src, i) =>
        val dst = target(i, files.length)
        // never delete-then-rename: a concurrent checkpointer of the same
        // version races benignly (contents are equivalent), and readers
        // never observe a missing checkpoint file
        if (!fs.rename(src, dst) && !fs.exists(dst))
          throw new IllegalStateException(s"checkpoint rename failed: $dst")
        dst
      }
    } finally fs.delete(staging, true)
  }

  /** The rows of a v2 checkpoint manifest in v2CheckpointSchema order
    * (logSchema columns, then sidecar, then checkpointMetadata): one
    * checkpointMetadata row, one reference per published sidecar, and
    * the non-file actions. */
  private def v2Manifest(spark: SparkSession, fs: FileSystem, version: Long,
      sidecars: Seq[Path], nonFileRows: DataFrame): DataFrame = {
    import spark.implicits._
    val nullLogCols = Actions.logSchema.fields.toIndexedSeq
      .map(f => lit(null).cast(f.dataType).as(f.name))
    val nullSidecar = lit(null).cast(Actions.sidecarSchema).as("sidecar")
    val nullCpMeta = lit(null).cast(Actions.checkpointMetadataSchema)
      .as("checkpointMetadata")
    val cpMetaRow = spark.range(1).select(nullLogCols :+ nullSidecar :+
      struct(lit(version).as("version")).as("checkpointMetadata"): _*)
    val sidecarRows = sidecars.map(fs.getFileStatus)
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .toDF("path", "sizeInBytes", "modificationTime")
      .select(nullLogCols :+
        struct(col("path"), col("sizeInBytes"), col("modificationTime"))
          .as("sidecar") :+ nullCpMeta: _*)
    val nonFile = nonFileRows.select(
      Actions.logSchema.fieldNames.toIndexedSeq.map(col) :+
        nullSidecar :+ nullCpMeta: _*)
    cpMetaRow.unionByName(sidecarRows).unionByName(nonFile)
  }

  /** Row count of a parquet file, from its footer (no row decode). */
  private def parquetRowCount(fs: FileSystem, file: Path): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, fs.getConf))
    try reader.getRecordCount finally reader.close()
  }

  /** Opportunistic maintenance at the log's maintenance moment: a writer
    * that crashed between its temp write and the hard-link publish
    * ([[putIfAbsent]]) leaves a `.<name>.<uuid>.tmp` behind; sweep the
    * stale ones (>1h) here rather than on the hot commit path. */
  private def sweepStaleTemps(fs: FileSystem, logPath: Path): Unit = {
    val staleCutoff = System.currentTimeMillis() - 3600 * 1000
    fs.listStatus(logPath).iterator
      .filter(st => st.getPath.getName.startsWith(".") &&
        st.getPath.getName.endsWith(".tmp") &&
        st.getModificationTime < staleCutoff)
      .foreach(st => scala.util.Try(fs.delete(st.getPath, false)))
  }

  // ---- data file writing --------------------------------------------

  /** Write change rows (data columns + `_change_type`) as CDC parquet
    * under `_change_data/`, hive-partitioned like the table, returning
    * the `cdc` actions for the commit. `_change_type` is a REGULAR
    * column in the files per the protocol, never a partition dir. No
    * stats pass — cdc files don't carry stats and never serve normal
    * reads. */
  def writeCdcFiles(spark: SparkSession, changeRowsLogical: DataFrame,
      tablePath: String, meta: Metadata): Seq[CdcFile] = {
    // cdc parquet follows the table's column-mapping convention
    // (physical names, physical-keyed hive dirs) — an external
    // spec-compliant CDF reader resolves cdc columns by physical name;
    // `_change_type` is outside the table schema and passes through
    val changeRows = toPhysicalNames(changeRowsLogical, meta)
    val partitionColumns = physicalPartitionColumns(meta)
    val table = new Path(tablePath)
    val fs = LogSegment.fs(spark, table)
    val cdcDir = new Path(table, "_change_data")
    fs.mkdirs(cdcDir)
    val staging = new Path(table,
      s".cdc_staging_${UUID.randomUUID().toString.take(8)}")
    val writer = changeRows.write.mode("overwrite")
    (if (partitionColumns.nonEmpty) writer.partitionBy(partitionColumns: _*)
     else writer).parquet(staging.toString)
    val stagingUri = staging.toUri.getPath
    val parts = listRecursive(fs, staging)
      .filter(_.getPath.getName.endsWith(".parquet"))
    val actions = parts.map { st =>
      val rel = st.getPath.toUri.getPath.stripPrefix(stagingUri)
        .stripPrefix("/")
      val target = new Path(cdcDir, rel)
      fs.mkdirs(target.getParent)
      if (!fs.rename(st.getPath, target))
        throw new IllegalStateException(s"cdc file rename failed: $target")
      CdcFile(s"_change_data/$rel", parsePartitionValues(rel),
        fs.getFileStatus(target).getLen)
    }
    fs.delete(staging, true)
    actions
  }

  /** `delta.dataSkippingNumIndexedCols` (default 32, delta-spark
    * parity): min/max/nullCount stats cover only the first N data
    * columns in schema order (-1 = all). At 100 TB this is the knob
    * that keeps a 500-column table's log from quintupling in size for
    * stats nobody filters on — numRecords is always kept (metadata
    * counts must not degrade), and absent stats mean "keep the file"
    * in the skipping engine, so the cap is always safe. */
  final val DataSkippingNumIndexedColsKey = "delta.dataSkippingNumIndexedCols"
  final val DefaultDataSkippingNumIndexedCols = 32
  /** `delta.dataSkippingStatsColumns` (delta-spark parity): an EXPLICIT
    * comma-separated list of the columns to index min/max/nullCount
    * stats for, overriding the positional first-N rule entirely. The
    * 100 TB use: a wide table whose filter columns are NOT its leading
    * columns (event payloads, feature stores) indexes exactly the
    * filtered columns and nothing else — log size tracks what queries
    * prune on, not schema position. Declared names are validated at
    * SET TBLPROPERTIES / CREATE; partition columns are rejected (their
    * pruning comes from partitionValues, never stats). */
  final val DataSkippingStatsColumnsKey = "delta.dataSkippingStatsColumns"

  /** Integer table properties graft acts on, with the least value each
    * accepts. */
  private val integerProperties: Map[String, Int] = Map(
    CheckpointIntervalPropKey -> 1,
    LogCompaction.IntervalPropKey -> 1,
    DataSkippingNumIndexedColsKey -> -1)

  /** Reject an integer table property that does not parse or is below
    * its least value, naming the key — where graft sets properties
    * (CREATE, REPLACE, SET TBLPROPERTIES). The read-side parsers
    * ([[intervalFrom]], [[indexedStatsColumns]],
    * [[LogCompaction.intervalFrom]]) stay tolerant of foreign writers. */
  def validateIntegerProperties(props: Iterable[(String, String)]): Unit =
    for ((k, v) <- props; least <- integerProperties.get(k))
      require(v.trim.toIntOption.exists(_ >= least),
        s"table property $k must be an integer >= $least, got '$v'")

  /** Parse + validate a `delta.dataSkippingStatsColumns` spec against a
    * table schema; returns the declared logical names. */
  def validateStatsColumns(spec: String, schema: StructType,
      partitionColumns: Seq[String]): Seq[String] = {
    val names = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, s"$DataSkippingStatsColumnsKey is empty")
    val fields = schema.fieldNames.map(n => n.toLowerCase -> n).toMap
    val partLower = partitionColumns.map(_.toLowerCase).toSet
    names.foreach { n =>
      require(fields.contains(n.toLowerCase),
        s"$DataSkippingStatsColumnsKey: no such column $n")
      require(!partLower(n.toLowerCase),
        s"$DataSkippingStatsColumnsKey: $n is a partition column — " +
          "partition pruning comes from partitionValues, not stats")
      // a type the stats pass cannot index (binary/array/map/struct)
      // would be accepted here and then silently never indexed — the
      // exact quiet failure this validation exists to catch
      val resolved = fields(n.toLowerCase)
      require(statsEligible(Seq(resolved), schema).nonEmpty,
        s"$DataSkippingStatsColumnsKey: $n " +
          s"(${schema(resolved).dataType.catalogString}) cannot carry " +
          "min/max stats — only numeric, string, boolean, date and " +
          "timestamp columns are indexable")
    }
    names
  }
  /** Comma-separated column names that get parquet-level bloom filters
    * on every write (engine-specific key — the delta.* namespace is
    * reserved for spec'd properties). */
  final val BloomFilterColumnsKey = "graft.bloomFilter.columns"


  /** Table-schema stats order for [[writeFiles]] — logical-name order
    * for plain tables, the PHYSICAL image of the same schema order for
    * mapped tables (their frames carry physical names), so
    * `dataSkippingNumIndexedCols` counts "first N columns" in schema
    * order either way. */
  private[graft] def statsOrderOf(meta: Metadata): Seq[String] = {
    // explicit stats columns (dataSkippingStatsColumns) narrow the
    // selection to the declared names — kept in SCHEMA order so the
    // stats JSON stays deterministic regardless of declaration order
    val fields = meta.configuration.get(DataSkippingStatsColumnsKey) match {
      case Some(spec) =>
        val want = spec.split(",").map(_.trim.toLowerCase)
          .filter(_.nonEmpty).toSet
        meta.dataSchema.fields.filter(f => want(f.name.toLowerCase)).toSeq
      case None => meta.dataSchema.fields.toSeq
    }
    if (graft.delta.scan.ColumnMapping.mode(meta) == "none")
      fields.map(_.name)
    else fields.map(graft.delta.scan.ColumnMapping.physicalName)
  }

  /** The columns a write on this table WOULD index stats for — the
    * same selection [[writeFiles]] applies (schema order, explicit
    * dataSkippingStatsColumns override, else the first-N positional
    * cap), resolved against the table metadata alone. ANALYZE uses it
    * as the target coverage set. */
  private[graft] def selectedStatsColumns(meta: Metadata): Seq[String] =
    indexedStatsColumns(statsOrderOf(meta)
      .filterNot(physicalPartitionColumns(meta).contains), meta.configuration)

  /** The stats-column policy over `dataCols` (non-partition columns in
    * stats order): an explicit dataSkippingStatsColumns list (already
    * applied to the order by [[statsOrderOf]]) keeps them all — the
    * user named the columns; capping by count on top would silently
    * drop some of them — otherwise the first
    * `dataSkippingNumIndexedCols` (-1 = all). */
  private def indexedStatsColumns(dataCols: Seq[String],
      configuration: Map[String, String]): Seq[String] = {
    val numIndexed = configuration.get(DataSkippingNumIndexedColsKey)
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .getOrElse(DefaultDataSkippingNumIndexedCols)
    if (numIndexed < 0 || configuration.contains(DataSkippingStatsColumnsKey))
      dataCols
    else dataCols.take(numIndexed)
  }

  /** Write a LOGICAL frame in `meta`'s table layout — physical column
    * names, the physical partition directories, the table's write
    * properties and its schema-order stats — the one way every write
    * into a table stages data files. */
  private[graft] def writeTableFiles(spark: SparkSession, df: DataFrame,
      tablePath: String, meta: Metadata,
      dataChange: Boolean = true): Seq[AddFile] =
    writeFiles(spark, toPhysicalNames(df, meta), tablePath,
      physicalPartitionColumns(meta), dataChange, meta.configuration,
      statsOrderOf(meta))

  /** Write `df` as parquet files under `tablePath` (hive-style dirs for
    * partition columns), returning the AddFile actions with stats.
    *
    * @param statsColumnOrder the TABLE schema's field order (the
    *   dataSkippingNumIndexedCols contract counts "first N columns" in
    *   schema order, not in whatever order this writer's frame happens
    *   to carry); empty = use the frame's order (creation, where the
    *   frame IS the schema). */
  def writeFiles(spark: SparkSession, df: DataFrame, tablePath: String,
      partitionColumns: Seq[String],
      dataChange: Boolean = true,
      configuration: Map[String, String] = Map.empty,
      statsColumnOrder: Seq[String] = Seq.empty): Seq[AddFile] = {
    val table = new Path(tablePath)
    val fs = LogSegment.fs(spark, table)
    fs.mkdirs(table)
    val staging = new Path(table, s".staging_${UUID.randomUUID().toString.take(8)}")

    // optimized write (`delta.autoOptimize.optimizeWrite`, opt-in): a
    // partitioned write otherwise emits up to tasks × partitions part
    // files (every task holding rows of every partition writes one per
    // dir — the small-file explosion auto-compact then has to clean
    // up). The REBALANCE hint shuffles rows to the partition keys with
    // AQE sizing the output blocks (splitting skewed keys, coalescing
    // tiny ones), so each partition dir gets few well-sized files AT
    // write time. Prevention here, cure in maybeAutoCompact.
    // dataChange=false gates the hint OFF for OPTIMIZE/auto-compact
    // rewrites: those have already shaped their output (z-order's
    // range-partition + within-partition sort, compaction's coalesce
    // sizing) and a rebalance shuffle on top would silently destroy it
    val shaped =
      if (dataChange && partitionColumns.nonEmpty &&
          configuration.get(OptimizeWritePropKey)
            .exists(_.equalsIgnoreCase("true")))
        df.hint("rebalance", partitionColumns.map(col): _*)
      else df
    // Parquet-level bloom filters (`graft.bloomFilter.columns`,
    // opt-in): point lookups on high-cardinality NON-partition columns
    // (user ids, document hashes) cannot be served by min/max stats on
    // unsorted data — at 100 TB every equality probe reads every
    // row group in range. Declaring the columns here makes the normal
    // write path emit parquet bloom filters for them, and the read
    // side is FREE: Spark pushes equality predicates into parquet-mr,
    // whose row-group filter consults the bloom before any page IO.
    // File-level pruning stays stats-driven; this covers the
    // within-file tier the log cannot see. parquet-mr only
    // materializes the bloom for chunks that FALL OUT of dictionary
    // encoding (a dictionary page already filters row groups exactly)
    // — i.e. the bytes are spent only in the high-cardinality case
    // they're needed. Names are matched as written (column-mapped
    // tables would need physical names; an unmatched name simply
    // writes no bloom).
    val bloomCols = configuration.get(BloomFilterColumnsKey)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val writer = bloomCols.foldLeft(shaped.write.mode("overwrite"))(
      (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true"))
    (if (partitionColumns.nonEmpty) writer.partitionBy(partitionColumns: _*)
     else writer).parquet(staging.toString)

    // an empty DataFrame writes no part files: a valid empty commit
    val stagingUri = staging.toUri.getPath
    val parts = listRecursive(fs, staging)
      .filter(_.getPath.getName.endsWith(".parquet"))
    if (parts.isEmpty) { fs.delete(staging, true); return Seq.empty }

    val dfCols = df.schema.fieldNames.map(n => n.toLowerCase -> n).toMap
    val dataCols = indexedStatsColumns(
      (if (statsColumnOrder.nonEmpty)
         statsColumnOrder.flatMap(n => dfCols.get(n.toLowerCase))
       else df.schema.fieldNames.toSeq)
        .filterNot(partitionColumns.contains),
      configuration)
    // the stats pass reads exactly the part files just listed, through
    // the log-backed index over their known statuses: no second listing
    // of the staging dir (spark.read.parquet would list it again, and
    // warn that its hidden name was ignored)
    val fileSchema = StructType(df.schema.fields
      .filterNot(f => partitionColumns.exists(_.equalsIgnoreCase(f.name)))
      .map(_.copy(nullable = true)))
    val staged = org.apache.spark.sql.graftshim.Shims.parquetRelation(spark,
      new graft.delta.sources.GraftDeltaFileIndex(spark, staging,
        parts.map(st => graft.delta.scan.DeltaScan.ScanFile(
          st.getPath.toString, Map.empty, None, st.getLen,
          st.getModificationTime)),
        StructType(Nil), statsSkipping = None),
      fileSchema)
    val statsByFile =
      computeStatsForRead(staged, dataCols.toIndexedSeq, df.schema)

    // a part file absent from the stats pass has ZERO rows (the group-by
    // is over the files' own rows) — skip it entirely: an empty part
    // carries no data, and an add without numRecords would silently
    // poison every metadata-only answer (statsRowCount, ranges) for the
    // whole table
    val (live, empty) = parts.partition(st =>
      statsByFile.contains(st.getPath.toUri.getPath))
    empty.foreach(st => fs.delete(st.getPath, false))
    live.map { st =>
      val rel = st.getPath.toUri.getPath.stripPrefix(stagingUri)
        .stripPrefix("/")
      val target = new Path(table, rel)
      fs.mkdirs(target.getParent)
      if (!fs.rename(st.getPath, target))
        throw new IllegalStateException(s"rename failed: ${st.getPath} -> $target")
      val partValues = parsePartitionValues(rel)
      val status = fs.getFileStatus(target)
      AddFile(
        path = rel,
        partitionValues = partValues,
        size = status.getLen,
        modificationTime = status.getModificationTime,
        dataChange = dataChange,
        stats = statsByFile.get(st.getPath.toUri.getPath))
    }.tap(_ => fs.delete(staging, true))
  }

  private implicit class Tap[A](private val a: A) {
    def tap(f: A => Unit): A = { f(a); a }
  }

  private[graft] def listRecursive(fs: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val it = fs.listFiles(dir, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    while (it.hasNext) buf += it.next()
    buf.toSeq
  }

  private[graft] def parsePartitionValues(relPath: String): Map[String, String] =
    relPath.split('/').dropRight(1).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) => Some(k -> unescapePathName(v))
        case _ => None
      }
    }.toMap

  /** Inverse of Spark's hive-style path escaping: decode %XX sequences
    * only ('+' is NOT form-encoding here — it stays literal). */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Stats for every parquet file under `dir` — CONVERT TO DELTA's
    * read of a directory it has not listed itself. */
  private[graft] def computeStats(spark: SparkSession, dir: String,
      dataCols: Seq[String], schema: StructType): Map[String, String] =
    computeStatsForRead(spark.read.parquet(dir), dataCols, schema)

  /** Stats for an EXPLICIT file list read under a declared schema —
    * the ANALYZE path: files written before a schema evolution simply
    * impute null for the missing columns (their nullCount equals
    * numRecords, min/max absent — exactly what a reader observes). */
  private[graft] def computeStatsForPaths(spark: SparkSession,
      paths: Seq[String], dataCols: Seq[String],
      schema: StructType): Map[String, String] =
    computeStatsForRead(
      spark.read.schema(schema).parquet(paths: _*), dataCols, schema)

  /** Which of `dataCols` can carry min/max/nullCount stats at all
    * (shared by the write path and ANALYZE's needs-recompute test). */
  private[graft] def statsEligible(dataCols: Seq[String],
      schema: StructType): Seq[String] =
    dataCols.filter { c =>
      schema(c).dataType match {
        case _: NumericType | StringType | DateType | BooleanType |
             TimestampType | TimestampNTZType => true
        case _ => false
      }
    }

  /** One distributed pass computing per-file numRecords / minValues /
    * maxValues / nullCount for the eligible leaf columns of `read`. */
  private def computeStatsForRead(read: DataFrame,
      dataCols: Seq[String], schema: StructType): Map[String, String] = {
    val eligible = statsEligible(dataCols, schema)
    val aggs =
      eligible.flatMap { c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
          sum(col(c).isNull.cast("long")).as(s"nulls_$c"))
      } :+ count(lit(1)).as("numRecords")
    val rows = read
      .groupBy(col("_metadata.file_path").as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.map { r =>
      val node = mapper.createObjectNode()
      node.put("numRecords", r.getAs[Long]("numRecords"))
      val minN = node.putObject("minValues")
      val maxN = node.putObject("maxValues")
      val nullN = node.putObject("nullCount")
      for (c <- eligible) {
        putStat(minN, c, r.getAs[Any](s"min_$c"))
        putStat(maxN, c, r.getAs[Any](s"max_$c"), isMax = true)
        nullN.put(c, r.getAs[Long](s"nulls_$c"))
      }
      // canonicalize to the ON-DISK absolute path: _metadata.file_path
      // URI-encodes the disk name (space -> %20, literal % -> %25) while
      // FileStatus paths keep it literal — one %XX decode aligns them.
      // (Part-file NAMES alone are NOT unique: dynamic partition writes
      // reuse the same part-NNNN-uuid name in every partition dir.)
      unescapePathName(new Path(r.getAs[String]("__file")).toUri.getPath) ->
        node.toString
    }.toMap
  }

  /** Stats strings are capped at this many chars so a long-text column
    * (a 100 TB document table) never embeds whole values in the log. */
  private val StatsStringPrefixLen = 32

  private def putStat(node: ObjectNode, name: String, v: Any,
      isMax: Boolean = false): Unit = v match {
    case null => () // absent = unknown
    case b: Boolean => node.put(name, b)
    case b: Byte => node.put(name, b.toInt)
    case s: Short => node.put(name, s.toInt)
    case i: Int => node.put(name, i)
    case l: Long => node.put(name, l)
    case f: Float => if (!f.isNaN && !f.isInfinite) node.put(name, f)
    case d: Double => if (!d.isNaN && !d.isInfinite) node.put(name, d)
    case d: java.math.BigDecimal => node.put(name, d)
    case s: String =>
      if (s.length <= StatsStringPrefixLen) node.put(name, s)
      // a truncated MIN is a smaller lower bound — still conservative;
      // a truncated MAX would be SMALLER than the true max and could
      // wrongly prune, so an oversized max is omitted (absent = unknown
      // = keep the file), per the skipping engine's null semantics
      else if (!isMax) node.put(name, s.substring(0, StatsStringPrefixLen))
    case d: java.sql.Date => node.put(name, d.toString)
    case d: java.time.LocalDate => node.put(name, d.toString)
    // UTC ISO-8601 ('...Z') per the Delta stats convention: a zone-less
    // JVM-default-zone rendering would shift min/max when the reader's
    // session zone differs, making file skipping non-conservative
    case t: java.sql.Timestamp =>
      node.put(name, t.toInstant.toString)
    case t: java.time.LocalDateTime => node.put(name, t.toString)
    case t: java.time.Instant => node.put(name, t.toString)
    case other => node.put(name, other.toString)
  }

  // ---- action JSON rendering ----------------------------------------

  def addJson(a: AddFile): String = {
    val root = mapper.createObjectNode()
    val n = root.putObject("add")
    n.put("path", a.path)
    val pv = n.putObject("partitionValues")
    a.partitionValues.foreach { case (k, v) => pv.put(k, v) }
    n.put("size", a.size)
    n.put("modificationTime", a.modificationTime)
    n.put("dataChange", a.dataChange)
    a.stats.foreach(s => n.put("stats", s))
    a.deletionVector.foreach(dv => putDv(n, dv))
    a.baseRowId.foreach(id => n.put("baseRowId", id))
    a.defaultRowCommitVersion.foreach(v =>
      n.put("defaultRowCommitVersion", v))
    root.toString
  }

  def cdcJson(c: CdcFile): String = {
    val root = mapper.createObjectNode()
    val n = root.putObject("cdc")
    n.put("path", c.path)
    val pv = n.putObject("partitionValues")
    c.partitionValues.foreach { case (k, v) => pv.put(k, v) }
    n.put("size", c.size)
    n.put("dataChange", false) // per spec, cdc is always false
    root.toString
  }

  def removeJson(r: RemoveFile): String = {
    val root = mapper.createObjectNode()
    val n = root.putObject("remove")
    n.put("path", r.path)
    r.deletionTimestamp.foreach(ts => n.put("deletionTimestamp", ts))
    n.put("dataChange", r.dataChange)
    r.deletionVector.foreach(dv => putDv(n, dv))
    root.toString
  }

  private def putDv(parent: ObjectNode, dv: DeletionVectorDescriptor): Unit = {
    val d = parent.putObject("deletionVector")
    d.put("storageType", dv.storageType)
    d.put("pathOrInlineDv", dv.pathOrInlineDv)
    dv.offset.foreach(o => d.put("offset", o))
    d.put("sizeInBytes", dv.sizeInBytes)
    d.put("cardinality", dv.cardinality)
  }

  def metadataJson(m: Metadata): String = {
    val root = mapper.createObjectNode()
    val n = root.putObject("metaData")
    n.put("id", m.id)
    m.name.foreach(v => n.put("name", v))
    m.description.foreach(v => n.put("description", v))
    val f = n.putObject("format")
    f.put("provider", m.format.provider)
    val fo = f.putObject("options")
    m.format.options.foreach { case (k, v) => fo.put(k, v) }
    n.put("schemaString", m.schemaString)
    val pc = n.putArray("partitionColumns")
    m.partitionColumns.foreach(pc.add)
    val cfg = n.putObject("configuration")
    m.configuration.foreach { case (k, v) => cfg.put(k, v) }
    m.createdTime.foreach(v => n.put("createdTime", v))
    root.toString
  }

  def protocolJson(p: Protocol): String = {
    val root = mapper.createObjectNode()
    val n = root.putObject("protocol")
    n.put("minReaderVersion", p.minReaderVersion)
    n.put("minWriterVersion", p.minWriterVersion)
    p.readerFeatures.foreach { fs =>
      val a = n.putArray("readerFeatures"); fs.foreach(a.add)
    }
    p.writerFeatures.foreach { fs =>
      val a = n.putArray("writerFeatures"); fs.foreach(a.add)
    }
    root.toString
  }
}
