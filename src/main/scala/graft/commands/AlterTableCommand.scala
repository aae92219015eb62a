package graft.commands

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, MetadataBuilder, ShortType, StructField, StructType}
import graft.delta.DeltaTable
import graft.delta.log.{Clustering, ColumnDefaults, CommitWriter, Constraints, LogSegment, ProtocolSupport, RowTracking}
import graft.delta.log.Actions.Metadata
import graft.delta.scan.ColumnMapping

/** ALTER TABLE on a Delta table: column, constraint, clustering and
  * property changes. Each is ONE metadata-only commit (no data file is
  * rewritten) reported as `(altered, <what>)` + `(version, <v>)`.
  * Path-addressed CTAS lives here too: it reports in the same shape. */
object AlterTableCommand {

  /** Commit `meta` (plus protocol/domain actions riding the same
    * commit) and report it — the step every ALTER ends with. */
  private def commit(spark: SparkSession, path: String, what: String,
      meta: Metadata, extraActions: Seq[String] = Seq.empty,
      metric: String = "altered"): DataFrame =
    report(spark, what,
      CommitWriter.commitMetadata(spark, path, meta, extraActions), metric)

  private def report(spark: SparkSession, what: String, version: Long,
      metric: String = "altered"): DataFrame =
    CommandResult.metrics(spark, metric -> what, "version" -> version.toString)

  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): DataFrame = {
    val snap = DeltaTable.forPath(spark, path)
    // without column mapping the parquet files carry logical names —
    // a metadata-only rename would orphan the column's data
    require(ColumnMapping.mode(snap.metadata) != "none",
      "RENAME COLUMN requires column mapping " +
        "(delta.columnMapping.mode=name); physical files keep their " +
        "names, so only mapped tables can rename as a metadata commit")
    val schema = snap.schema
    require(schema.fieldNames.contains(from), s"no such column: $from")
    require(!schema.fieldNames.contains(to), s"column exists: $to")
    requireNotInColumnLists(snap.metadata, from, "RENAME COLUMN")
    val renamed = StructType(
      schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    commit(spark, path, s"$from -> $to",
      snap.metadata.copy(schemaString = renamed.json), metric = "renamed")
  }

  def addColumn(spark: SparkSession, path: String, name: String,
      typeDdl: String): DataFrame = {
    val snap = DeltaTable.forPath(spark, path)
    require(!snap.schema.fieldNames.contains(name), s"column exists: $name")
    val dt = DataType.fromDDL(typeDdl)
    val mapped = ColumnMapping.mode(snap.metadata) != "none"
    // ids allocate from the maxColumnId HIGH-WATER MARK, never from the
    // surviving schema's max: after DROP COLUMN the dropped field's
    // physical name still holds its data in old parquet files, and
    // reusing its id would resurrect that data under the new column
    val nextId = maxColumnId(snap.metadata, snap.schema) + 1
    val newField = {
      val f = StructField(name, dt)
      if (!mapped) f
      else f.copy(metadata = new MetadataBuilder()
        .putLong("delta.columnMapping.id", nextId)
        .putString("delta.columnMapping.physicalName", s"col-$nextId")
        .build())
    }
    val newConfig =
      if (!mapped) snap.metadata.configuration
      else snap.metadata.configuration +
        ("delta.columnMapping.maxColumnId" -> nextId.toString)
    commit(spark, path, s"added $name ${dt.catalogString}",
      snap.metadata.copy(
        schemaString = StructType(snap.schema.fields :+ newField).json,
        configuration = newConfig))
  }

  def dropColumn(spark: SparkSession, path: String,
      name: String): DataFrame = {
    val snap = DeltaTable.forPath(spark, path)
    require(ColumnMapping.mode(snap.metadata) != "none",
      "DROP COLUMN requires column mapping: on a plain table the " +
        "column's data cannot be logically erased without a rewrite")
    require(snap.schema.fieldNames.contains(name), s"no such column: $name")
    require(snap.schema.fields.length > 1, "cannot drop the last column")
    require(!snap.partitionColumns.contains(name),
      "cannot drop a partition column")
    requireNotInColumnLists(snap.metadata, name, "DROP COLUMN")
    // backfill the id high-water mark from the PRE-drop schema: for
    // tables created before maxColumnId tracking, this is the last
    // moment the dropped field's id is still visible — without it a
    // later ADD COLUMN would reuse the id and resurrect the data
    val preDropMax = maxColumnId(snap.metadata, snap.schema)
    commit(spark, path, s"dropped $name",
      snap.metadata.copy(
        schemaString = StructType(
          snap.schema.fields.filterNot(_.name == name)).json,
        configuration = snap.metadata.configuration +
          ("delta.columnMapping.maxColumnId" -> preDropMax.toString)))
  }

  /** The column-id high-water mark: the recorded maxColumnId, or the
    * schema's largest field id when that is higher. */
  private def maxColumnId(meta: Metadata, schema: StructType): Long =
    math.max(
      meta.configuration
        .get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L),
      ColumnMapping.maxFieldId(schema))

  /** Write-side type WIDENING (the typeWidening table feature):
    * metadata-only — old files keep their narrow physical type and the
    * scan's schema adapter up-casts them on read, so a 100 TB table
    * changes an int column to long without touching a byte of data.
    * Narrowing or cross-family changes are refused (they would corrupt
    * or truncate existing values). */
  def alterColumnType(spark: SparkSession, path: String, name: String,
      typeDdl: String): DataFrame = {
    val snap = DeltaTable.forPath(spark, path)
    val schema = snap.schema
    val resolved = schema.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column: $name"))
    require(!snap.partitionColumns.exists(_.equalsIgnoreCase(name)),
      "cannot widen a partition column: partition values are strings " +
        "re-typed by the schema, and historical directory names were " +
        "rendered under the old type")
    val to = DataType.fromDDL(typeDdl)
    val from = resolved.dataType
    val widenable: Set[(DataType, DataType)] = Set(
      (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType),
      (ShortType, IntegerType), (ShortType, LongType),
      (IntegerType, LongType), (FloatType, DoubleType))
    require(widenable((from, to)),
      s"ALTER COLUMN TYPE supports widening only; " +
        s"${from.simpleString} -> ${to.simpleString} is not a " +
        "supported widening (byte/short/int up the integer chain, " +
        "float -> double)")
    // record the change on the field per the typeWidening spec, so
    // other readers know which files predate the widening. The
    // `tableVersion` stamp derives from the ACTUAL commit version
    // (commitMetadataAt resolves its own segment) — `snap.version + 1`
    // computed here could be stale if a commit interleaves. The
    // schema itself is derived from `snap`, so the same call pins
    // expectedCurrentVersion: an interleaved metadata commit makes
    // this throw (caller re-runs the ALTER) instead of silently
    // reverting the interleaved change with a stale schema image.
    def widened(v: Long): org.apache.spark.sql.types.Metadata = {
      val change = new MetadataBuilder()
        .putString("fromType", from.typeName)
        .putString("toType", to.typeName)
        .putLong("tableVersion", v).build()
      val prior =
        if (resolved.metadata.contains("delta.typeChanges"))
          resolved.metadata.getMetadataArray("delta.typeChanges").toSeq
        else Seq.empty
      new MetadataBuilder().withMetadata(resolved.metadata)
        .putMetadataArray("delta.typeChanges",
          (prior :+ change).toArray).build()
    }
    val newProto =
      ProtocolSupport.withReaderWriterFeature(snap.protocol, "typeWidening")
    val cv = CommitWriter.commitMetadataAt(spark, path,
      v => snap.metadata.copy(schemaString = StructType(
        schema.fields.map { f =>
          if (f.name != resolved.name) f
          else f.copy(dataType = to, metadata = widened(v))
        }).json),
      extraActions = newProto.map(CommitWriter.protocolJson).toSeq,
      expectedCurrentVersion = Some(snap.version))
    report(spark,
      s"widened ${resolved.name} ${from.simpleString} -> " +
        to.simpleString, cv)
  }

  /** ALTER COLUMN SET DEFAULT <sql> (`defaultSql` = Some) or DROP
    * DEFAULT (None). */
  def alterColumnDefault(spark: SparkSession, path: String, name: String,
      defaultSql: Option[String]): DataFrame = {
    val snap = DeltaTable.forPath(spark, path)
    val schema = snap.schema
    // resolve case-insensitively, like every read/write path does
    val field = schema.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column: $name"))
    require(!snap.partitionColumns.exists(_.equalsIgnoreCase(name)),
      "cannot set a DEFAULT on a partition column")
    require(!field.metadata.contains("delta.generationExpression") &&
      !field.metadata.contains("delta.identity.start"),
      s"$name is generated/identity — its values are computed, a " +
        "DEFAULT would conflict")
    val mb = new MetadataBuilder().withMetadata(field.metadata)
    val (newMeta, protoUpgrade) = defaultSql match {
      case Some(sql) =>
        // the default must analyze and cast to the column's type NOW,
        // not at some future write ("abc" on an int column must fail
        // at ALTER time, named, never brick every later append). The
        // probe frame has ZERO columns: SQL defaults may not
        // reference columns, and range(1)'s `id` would let
        // "DEFAULT id" slip through to fail (or silently bind!) at
        // write time
        spark.range(1).drop("id")
          .select(expr(sql).cast(field.dataType)).collect()
        (mb.putString(ColumnDefaults.MetadataKey, sql).build(),
          ProtocolSupport.withWriterFeature(snap.protocol,
            ColumnDefaults.Feature))
      case None =>
        require(field.metadata.contains(ColumnDefaults.MetadataKey),
          s"$name has no DEFAULT to drop")
        (mb.remove(ColumnDefaults.MetadataKey).build(), None)
    }
    val fields = schema.fields.map(f =>
      if (f.name == field.name) f.copy(metadata = newMeta) else f)
    commit(spark, path,
      defaultSql match {
        case Some(sql) => s"set default ${field.name} = $sql"
        case None => s"dropped default ${field.name}"
      },
      snap.metadata.copy(schemaString = StructType(fields).json),
      protoUpgrade.map(CommitWriter.protocolJson).toSeq)
  }

  def addConstraint(spark: SparkSession, path: String, name: String,
      exprSql: String): DataFrame = {
    val snap = DeltaTable.forPath(spark, path)
    val key = s"delta.constraints.${name.toLowerCase}"
    require(!snap.metadata.configuration.contains(key),
      s"constraint already exists: $name")
    // the constraint must hold on EXISTING rows before it can bind
    // future writers — one scan, early-exit on the first violation
    require(Constraints.holdsOn(snap.read, exprSql),
      s"cannot ADD CONSTRAINT $name: existing rows violate ($exprSql)")
    // checkConstraints is a writer feature: legacy protocols need
    // minWriterVersion >= 3, feature protocols need the name declared
    val p = snap.protocol
    val newProto =
      if (p.minWriterVersion >= 7)
        Option.when(!p.writerFeatures.getOrElse(Nil)
            .contains("checkConstraints"))(
          p.copy(writerFeatures = Some((p.writerFeatures.getOrElse(Nil)
            .toSet + "checkConstraints").toSeq.sorted)))
      else if (p.minWriterVersion < 3) Some(p.copy(minWriterVersion = 3))
      else None
    commit(spark, path, s"added constraint $name CHECK ($exprSql)",
      snap.metadata.copy(configuration =
        snap.metadata.configuration + (key -> exprSql)),
      newProto.map(CommitWriter.protocolJson).toSeq)
  }

  def dropConstraint(spark: SparkSession, path: String,
      name: String): DataFrame = {
    val snap = DeltaTable.forPath(spark, path)
    val key = s"delta.constraints.${name.toLowerCase}"
    require(snap.metadata.configuration.contains(key),
      s"no such constraint: $name")
    commit(spark, path, s"dropped constraint $name",
      snap.metadata.copy(configuration = snap.metadata.configuration - key))
  }

  /** CLUSTER BY (cols), or CLUSTER BY NONE when `cols` is empty. */
  def clusterBy(spark: SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    val snap = DeltaTable.forPath(spark, path)
    if (cols.isEmpty) {
      // CLUSTER BY NONE: drop the layout policy (domain tombstone);
      // the declared feature stays — it never obligated readers
      require(Clustering.columnsOf(spark, snap.segment).nonEmpty,
        s"$path is not a clustered table")
      commit(spark, path, "cluster by none", snap.metadata,
        Seq(Clustering.removalJson))
    } else {
      val canonical = Clustering.validate(cols, snap.schema,
        snap.partitionColumns)
      // takes effect from this commit; existing files re-cluster at
      // the next OPTIMIZE (metadata-only — no data rewrite here)
      val newProto = Clustering.requiredProtocol(snap.protocol)
      commit(spark, path, s"cluster by ${canonical.mkString(", ")}",
        snap.metadata,
        newProto.map(CommitWriter.protocolJson).toSeq :+
          Clustering.domainJson(canonical))
    }
  }

  def setTblProperties(spark: SparkSession, path: String,
      props: Seq[(String, String)]): DataFrame = {
    val snap = DeltaTable.forPath(spark, path)
    // refuse properties whose semantics this engine cannot honor —
    // the same fail-closed boundary ProtocolSupport enforces on write
    props.foreach { case (k, _) =>
      require(!k.startsWith("delta.constraints."),
        s"cannot set $k directly: use ALTER TABLE ... ADD CONSTRAINT " +
          "<name> CHECK (<expr>), which validates existing rows and " +
          "records the writer-feature requirement")
      require(!k.startsWith("delta.columnMapping."),
        s"cannot set $k: the column-mapping mode and id high-water " +
          "mark are fixed at table creation (changing them would " +
          "orphan or resurrect physical columns)")
    }
    // dataSkippingStatsColumns must name real, non-partition columns
    // NOW — a typo discovered at write time would silently stop
    // indexing stats instead of failing the ALTER
    props.collect {
      case (CommitWriter.DataSkippingStatsColumnsKey, spec) =>
        CommitWriter.validateStatsColumns(spec,
          snap.metadata.dataSchema, snap.partitionColumns)
    }
    val what = s"set ${props.map(_._1).mkString(", ")}"
    // enabling row tracking mid-life takes the backfill path: one
    // metadata-only commit stamping every live file's baseRowId from
    // its stats (no data rewrite), features + mark + property atomic
    if (props.exists { case (k, v) =>
          k == RowTracking.PropKey && v.equalsIgnoreCase("true") } &&
        !RowTracking.enabled(snap.metadata)) {
      val v = CommitWriter.enableRowTracking(spark, path,
        extraProps = props.filterNot(_._1 == RowTracking.PropKey).toMap)
      return report(spark, s"$what (row-id backfill)", v)
    }
    // enabling a feature-gated property upgrades the protocol IN THE
    // SAME COMMIT: the feature must be declared before any writer
    // may rely on it. Keys match EXACTLY: Delta table property keys
    // are case-sensitive, and the readers (dvEnabled/ictEnabled) look
    // up the canonical spelling — a case-insensitive match here would
    // declare the feature while never activating the behavior
    def enabling(key: String) = props.exists { case (k, v) =>
      k == key && v.equalsIgnoreCase("true") }
    val dvUpgrade =
      if (enabling("delta.enableDeletionVectors"))
        ProtocolSupport.withDeletionVectors(snap.protocol)
      else None
    val ictUpgrade =
      if (enabling("delta.enableInCommitTimestamps"))
        ProtocolSupport.withWriterFeature(
          dvUpgrade.getOrElse(snap.protocol), "inCommitTimestamp")
      else None
    // a mid-life ICT flip records WHEN it took effect, so readers
    // know to use file mtimes before this version and ICTs after;
    // the declared timestamp becomes this very commit's ICT. A table
    // that has had ICT since creation carries NO enablement props —
    // writing them now (per spec: "ICT was enabled mid-life") would
    // make compliant readers distrust every earlier commit's ICT — so
    // a redundant re-SET on an already-enabled table records nothing.
    val alreadyIct = snap.metadata.configuration
      .get("delta.enableInCommitTimestamps")
      .exists(_.equalsIgnoreCase("true"))
    val ictProps: Map[String, String] =
      if (enabling("delta.enableInCommitTimestamps") && !alreadyIct
          && !snap.metadata.configuration
            .contains("delta.inCommitTimestampEnablementVersion"))
        Map(
          "delta.inCommitTimestampEnablementVersion" ->
            (snap.version + 1).toString,
          "delta.inCommitTimestampEnablementTimestamp" ->
            CommitWriter.nextIct(spark, path).toString)
      else Map.empty
    commit(spark, path, what,
      snap.metadata.copy(
        configuration = snap.metadata.configuration ++ props ++ ictProps),
      (dvUpgrade.toSeq ++ ictUpgrade.toSeq).map(CommitWriter.protocolJson))
  }

  def unsetTblProperties(spark: SparkSession, path: String,
      keys: Seq[String]): DataFrame = {
    val snap = DeltaTable.forPath(spark, path)
    keys.foreach { k =>
      require(!k.startsWith("delta.columnMapping."),
        s"cannot unset $k: dropping the column-mapping configuration " +
          "would detach the schema from the physical file layout")
    }
    commit(spark, path, s"unset ${keys.mkString(", ")}",
      snap.metadata.copy(
        configuration = snap.metadata.configuration -- keys))
  }

  /** CREATE [OR REPLACE] TABLE [IF NOT EXISTS] '<path>' ... AS SELECT:
    * path-addressed CTAS through the graft write path. */
  def createTableAsSelect(spark: SparkSession, path: String,
      partitionCols: Seq[String], clusterCols: Seq[String],
      props: Map[String, String], selectSql: String, ifNotExists: Boolean,
      orReplace: Boolean): DataFrame = {
    // constraints in TBLPROPERTIES are legal here (createTable
    // enforces them on the founding rows and declares the feature);
    // column mapping is not — only createTableMapped assigns the
    // field ids / physical names the mode requires
    props.keys.foreach { k =>
      require(!k.startsWith("delta.columnMapping."),
        s"cannot set $k via CTAS: column-mapping tables need field " +
          "ids and physical names assigned at creation " +
          "(CommitWriter.createTableMapped)")
    }
    val logDir = new Path(path, "_delta_log")
    val exists = LogSegment.fs(spark, logDir).exists(logDir)
    if (ifNotExists && exists) report(spark, "skipped: table exists", -1)
    else if (orReplace && exists) {
      val v = CommitWriter.replaceTable(spark, spark.sql(selectSql), path,
        partitionColumns = partitionCols, configuration = props,
        clusterBy = clusterCols)
      report(spark, s"replaced $path", v)
    } else {
      // plain CREATE of an existing table fails at the v0 commit's
      // create-no-overwrite, before any log damage — but fail fast
      // here with a better message instead of writing data files
      if (exists) throw new IllegalArgumentException(
        s"Table already exists: $path (use IF NOT EXISTS to skip)")
      CommitWriter.createTable(spark, spark.sql(selectSql), path,
        partitionColumns = partitionCols, configuration = props,
        clusterBy = clusterCols)
      report(spark, s"created $path", 0)
    }
  }

  /** RENAME/DROP COLUMN must not leave a dangling name inside a
    * column-list table property: `dataSkippingStatsColumns` would then
    * match NOTHING — every later write silently stops indexing stats
    * and ANALYZE sees an empty target, so skipping on the renamed
    * filter column quietly dies — and a declared bloom-filter column
    * would likewise silently stop materializing. The ALTER fails
    * loudly; re-point the property first. */
  private def requireNotInColumnLists(meta: Metadata, column: String,
      op: String): Unit = {
    import CommitWriter.{BloomFilterColumnsKey, DataSkippingStatsColumnsKey}
    for (key <- Seq(DataSkippingStatsColumnsKey, BloomFilterColumnsKey);
         spec <- meta.configuration.get(key)) {
      val hit = spec.split(",").map(_.trim)
        .exists(_.equalsIgnoreCase(column))
      require(!hit, s"$op $column: the column is named in $key = " +
        s"'$spec' — update that property first (a dangling name would " +
        "silently stop indexing)")
    }
  }
}
